package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Consolidate, Issues, Normalize, Validate}
import graft.StandIn._

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry exercises one (or one cluster) of SURVEY.md §2's
  * operator inventory over the deterministic testdata stand-ins (mapping in
  * FIXTURES.md §4 / StandIn.scala); `oracleSql` carries the equivalent
  * DuckDB SQL. Every computed column is aliased identically on both sides;
  * every query is deterministically ordered on both sides.
  */
object SparkEntry {

  import Normalize._

  /** Flagship: full initial-processing classification (SURVEY.md §7.2) on
    * sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    Validate.classifyKeyed(csvInput(spark, dir), contactsStandIn(spark, dir), jobUsersStandIn(spark))
  }

  private def withCtes(body: String): String =
    s"WITH $inputCte,\n$contactsCte,\n$classifySql\n$body"

  // ---- DuckDB SQL generators mirroring functions/ (1-based list indexing) --

  private def dotSql(a: String, b: String, dims: Int): String =
    (1 to dims).map(i => s"CAST($a[$i] AS DOUBLE) * CAST($b[$i] AS DOUBLE)").mkString(" + ")

  private def cosSql(a: String, b: String, dims: Int): String =
    s"round((${dotSql(a, b, dims)}) / (sqrt(${dotSql(a, a, dims)}) * sqrt(${dotSql(b, b, dims)})), 6)"

  /** Subrange dot chain for PQ oracles: 1-based list offsets. */
  private def pqSubDot(a: String, b: String, offA: Int, offB: Int, d0: Int): String =
    (1 to d0).map(i => s"CAST($a[${offA + i}] AS DOUBLE) * CAST($b[${offB + i}] AS DOUBLE)")
      .mkString(" + ")

  /** BM25 oracle, parametrized by a corpus predicate so q_bm25_append
    * (build on a prefix, append the rest == full-corpus rebuild) and
    * q_bm25_delete (delete-then-query == rebuild-without-deleted) can
    * express their contracts verbatim. Lucene-convention idf, k1=1.2,
    * b=0.75, k=5, queries = doc_id < 3 — mirrors the Spark parameters;
    * per-term contributions are 1e-6 fixed-point longs before the
    * per-pair sum, like the Spark side. The QUERY texts always come from
    * the full table — only the indexed corpus is filtered. */
  private def bm25OracleSqlFor(corpusWhere: String): String =
    s"""WITH toks AS (
      |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term
      |  FROM documents WHERE $corpusWhere),
      |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks GROUP BY 1, 2),
      |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
      |stats AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS ndocs FROM dl),
      |qterms AS (
      |  SELECT DISTINCT doc_id AS qid, unnest(string_split_regex(text, '\\s+')) AS term
      |  FROM documents WHERE doc_id < 3),
      |qdf AS (
      |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf
      |  WHERE term IN (SELECT DISTINCT term FROM qterms) GROUP BY 1),
      |scored AS (
      |  SELECT q.qid, tf.doc_id,
      |    CAST(sum(CAST(round(
      |      ln(1.0 + (s.ndocs - d.df + 0.5) / (d.df + 0.5)) *
      |      (tf.tf * (1.2 + 1.0) /
      |        (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))) * 1e6,
      |      0) AS BIGINT)) AS BIGINT) AS s6
      |  FROM tf JOIN qterms q ON tf.term = q.term
      |  JOIN dl ON tf.doc_id = dl.doc_id
      |  JOIN qdf d ON tf.term = d.term
      |  CROSS JOIN stats s
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, CAST(row_number() OVER (
      |    PARTITION BY qid ORDER BY s6 DESC, doc_id ASC) AS BIGINT) AS rnk
      |  FROM scored)
      |SELECT qid, doc_id, round(CAST(s6 AS DOUBLE) / 1e6, 6) AS bm25, rnk
      |FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** Full-corpus BM25 oracle — shared by q_bm25_topk, q_bm25_persisted
    * AND q_bm25_append (append == rebuild over the union). */
  private val bm25OracleSql: String = bm25OracleSqlFor("TRUE")

  /** Shared CTE chain for the PQ/ADC oracles (encode + distance tables +
    * ADC aggregation, through `ranked`). m=8, d0=8, ksub=16, queries =
    * vec_id < 5 — mirrors the q_pq_* Spark parameters. */
  /** Full IVF oracle — shared by q_knn_ivf and q_knn_ivf_persisted (the
    * persisted index is contractually row-identical to the inline path). */
  /** The IVF oracle, parametrized by a corpus predicate so
    * q_knn_ivf_delete can express "rebuild without the deleted ids"
    * verbatim. `centsFrom` overrides the coarse-quantizer CTE chain (the
    * trained-centroid variant injects its k-means rounds and names the
    * final centroid CTE). */
  private def knnIvfOracleSqlFor(
      corpusWhere: String,
      centsCtes: String =
        s"""cn AS (
           |  SELECT vec_id AS cent_id, embedding AS centv,
           |         sqrt(${dotSql("embedding", "embedding", 64)}) AS ncent
           |  FROM embeddings ORDER BY vec_id LIMIT 16)""".stripMargin,
      centsName: String = "cn",
      queryWhere: String = "vec_id < 5",
      k: Int = 3): String =
    s"""WITH c AS (
       |  SELECT vec_id, embedding AS cv,
       |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nc
       |  FROM embeddings WHERE $corpusWhere),
       |$centsCtes,
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS qv,
       |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nq
       |  FROM embeddings WHERE $queryWhere),
       |assign AS (
       |  SELECT vec_id, cent_id, cv, nc,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY round((${dotSql("cv", "centv", 64)}) / (nc * ncent), 6) DESC, cent_id) AS arnk
       |  FROM c CROSS JOIN $centsName),
       |lists AS (SELECT cent_id, vec_id, cv, nc FROM assign WHERE arnk = 1),
       |probes AS (
       |  SELECT cent_id, query_id, qv, nq FROM (
       |    SELECT cent_id, query_id, qv, nq,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY round((${dotSql("qv", "centv", 64)}) / (nq * ncent), 6) DESC, cent_id) AS prnk
       |    FROM q CROSS JOIN $centsName) WHERE prnk <= 4),
       |scored AS (
       |  SELECT query_id, vec_id, round((${dotSql("qv", "cv", 64)}) / (nq * nc), 6) AS cos_sim
       |  FROM lists JOIN probes USING (cent_id) WHERE vec_id <> query_id),
       |ranked AS (
       |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rnk FROM scored)
       |SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= $k
       |ORDER BY query_id, rnk""".stripMargin

  private lazy val knnIvfOracleSql: String = knnIvfOracleSqlFor("TRUE")

  /** Iterative k-means CTE chain mirroring [[graft.functions.Similarity
    * .kmeansTrain]] bit-exactly: seeds = 16 lowest-id vectors, each round
    * assigns against the previous centroids (deterministic argmax) and
    * recomputes per-dimension means through FIXED-POINT 1e-6 longs (sum
    * order can't diverge) with a float cast; an emptied cluster keeps its
    * previous centroid. Expects a `c` CTE (vec_id, cv, nc) in scope;
    * defines `cn_<iters>` = (cent_id, centv, ncent). */
  private def kmeansOracleCtes(iters: Int, k: Int = 16): String = {
    val seed =
      s"""cents_0 AS (
         |  SELECT vec_id AS cent_id, embedding AS centv
         |  FROM embeddings ORDER BY vec_id LIMIT $k),
         |cn_0 AS (
         |  SELECT cent_id, centv,
         |         sqrt(${dotSql("centv", "centv", 64)}) AS ncent
         |  FROM cents_0)""".stripMargin
    val rounds = (1 to iters).map { i =>
      val p = i - 1
      s"""asg_$i AS (
         |  SELECT vec_id, cent_id, cv FROM (
         |    SELECT c.vec_id, t.cent_id, c.cv,
         |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
         |        round((${dotSql("cv", "centv", 64)}) / (nc * ncent), 6) DESC, cent_id) AS r
         |    FROM c CROSS JOIN cn_$p t) WHERE r = 1),
         |mem_$i AS (
         |  SELECT cent_id, unnest(cv) AS x,
         |    unnest(generate_series(1, len(cv))) AS pos
         |  FROM asg_$i),
         |mfp_$i AS (
         |  SELECT cent_id, pos,
         |    CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS BIGINT) AS sfp,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM mem_$i GROUP BY 1, 2),
         |mv_$i AS (
         |  SELECT cent_id,
         |    list(CAST(CAST(sfp AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS REAL) ORDER BY pos) AS nextv
         |  FROM mfp_$i GROUP BY cent_id),
         |cents_$i AS (
         |  SELECT p.cent_id, coalesce(m.nextv, p.centv) AS centv
         |  FROM cents_$p p LEFT JOIN mv_$i m USING (cent_id)),
         |cn_$i AS (
         |  SELECT cent_id, centv,
         |         sqrt(${dotSql("centv", "centv", 64)}) AS ncent
         |  FROM cents_$i)""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  /** Lloyd's rounds used by the trained-quantizer queries — small enough
    * that the generated oracle SQL stays tractable, large enough that
    * the centroids measurably move off the lowest-id seeds. */
  private val KnnTrainIters = 2

  /** Lloyd's rounds for the trained-PQ-codebook queries — the per-subspace
    * sibling of [[KnnTrainIters]], same tractability trade. */
  private val PqTrainIters = 2

  /** Per-subspace Lloyd's replay for TRAINED PQ codebooks, mirroring
    * Similarity.pqCodebookTrained bit-exactly (m=8, d0=8, ksub=16): seeds
    * = the 16 lowest-id vectors' subvector slices; each round assigns
    * every corpus subvector by L2² rounded to 6 (tie → lowest cb_id) and
    * recomputes per-dimension means through fixed-point 1e-6 longs with a
    * float cast; an emptied codeword keeps its previous value. Expects a
    * `c` CTE (vec_id, cv); defines `sub` (vec_id, s, sv) and
    * `cbt_<iters>` = (s, cb_id, cw). MATERIALIZED per round — each round
    * references the previous twice (assignment + repair), the
    * CTE-inlining blowup the ensemble oracle documents. */
  private def pqTrainedCtes(iters: Int): String = {
    val seed =
      s"""subsp AS (SELECT unnest(generate_series(0, 7)) AS s),
         |sub AS MATERIALIZED (
         |  SELECT c.vec_id, subsp.s, c.cv[subsp.s*8+1 : subsp.s*8+8] AS sv
         |  FROM c CROSS JOIN subsp),
         |cbt_0 AS MATERIALIZED (
         |  SELECT subsp.s, t.vec_id AS cb_id,
         |    t.cbv[subsp.s*8+1 : subsp.s*8+8] AS cw
         |  FROM (SELECT vec_id, embedding AS cbv
         |        FROM embeddings ORDER BY vec_id LIMIT 16) t
         |  CROSS JOIN subsp)""".stripMargin
    val rounds = (1 to iters).map { i =>
      val p = i - 1
      s"""pasg_$i AS (
         |  SELECT s, cb_id, sv FROM (
         |    SELECT sub.vec_id, sub.s, t.cb_id, sub.sv,
         |      row_number() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY
         |        round((${dotSql("sv", "sv", 8)}) + (${dotSql("cw", "cw", 8)})
         |          - 2.0 * (${dotSql("sv", "cw", 8)}), 6), t.cb_id) AS rnk
         |    FROM sub JOIN cbt_$p t USING (s)) WHERE rnk = 1),
         |pmem_$i AS (
         |  SELECT s, cb_id, unnest(sv) AS x,
         |    unnest(generate_series(1, len(sv))) AS pos FROM pasg_$i),
         |pmfp_$i AS (
         |  SELECT s, cb_id, pos,
         |    CAST(sum(CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)) AS BIGINT) AS sfp,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM pmem_$i GROUP BY 1, 2, 3),
         |pmv_$i AS (
         |  SELECT s, cb_id,
         |    list(CAST(CAST(sfp AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0 AS REAL)
         |      ORDER BY pos) AS nextv
         |  FROM pmfp_$i GROUP BY 1, 2),
         |cbt_$i AS MATERIALIZED (
         |  SELECT p.s, p.cb_id, coalesce(m.nextv, p.cw) AS cw
         |  FROM cbt_$p p LEFT JOIN pmv_$i m USING (s, cb_id))""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  private lazy val pqAdcCtes: String = {
    val d0 = 8
    val codeCtes = (0 until 8).map { s =>
      val off = s * d0
      s"""code_$s AS (
         |  SELECT vec_id, cb_id AS code FROM (
         |    SELECT c.vec_id, t.cb_id,
         |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
         |        round((${pqSubDot("cv", "cv", off, off, d0)})
         |          + (${pqSubDot("cbv", "cbv", off, off, d0)})
         |          - 2.0 * (${pqSubDot("cv", "cbv", off, off, d0)}), 6),
         |        cb_id) AS rnk
         |    FROM c CROSS JOIN cents t) r WHERE rnk = 1)""".stripMargin
    }.mkString(",\n")
    val meltCodes = (0 until 8)
      .map(s => s"SELECT vec_id, $s AS s, code FROM code_$s").mkString(" UNION ALL ")
    val dtCtes = (0 until 8).map { s =>
      val off = s * d0
      s"""dt_$s AS (
         |  SELECT q.vec_id AS query_id, t.cb_id,
         |    CAST(round(((${pqSubDot("qv", "qv", off, off, d0)})
         |      + (${pqSubDot("cbv", "cbv", off, off, d0)})
         |      - 2.0 * (${pqSubDot("qv", "cbv", off, off, d0)})) * 1e6, 0) AS BIGINT) AS pd_fp
         |  FROM qc q CROSS JOIN cents t)""".stripMargin
    }.mkString(",\n")
    val meltDt = (0 until 8)
      .map(s => s"SELECT query_id, $s AS s, cb_id, pd_fp FROM dt_$s").mkString(" UNION ALL ")
    s"""cents AS (
       |  SELECT vec_id AS cb_id, embedding AS cbv
       |  FROM embeddings ORDER BY vec_id LIMIT 16),
       |c AS (SELECT vec_id, embedding AS cv FROM embeddings),
       |qc AS (SELECT vec_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
       |$codeCtes,
       |$dtCtes,
       |mc AS ($meltCodes),
       |dt AS ($meltDt),
       |agg AS (
       |  SELECT dt.query_id, mc.vec_id, CAST(sum(dt.pd_fp) AS BIGINT) AS fp
       |  FROM mc JOIN dt ON mc.s = dt.s AND mc.code = dt.cb_id
       |  WHERE mc.vec_id <> dt.query_id
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, vec_id, round(CAST(fp AS DOUBLE) / 1e6, 6) AS adc_dist,
       |    CAST(row_number() OVER (
       |      PARTITION BY query_id ORDER BY fp, vec_id) AS BIGINT) AS rnk
       |  FROM agg)""".stripMargin
  }

  private def bucketSql(v: String, bits: Int): String =
    (1 to bits).map(i => s"CASE WHEN CAST($v[$i] AS DOUBLE) >= 0 THEN ${1L << (i - 1)} ELSE 0 END")
      .mkString(" + ")

  /** Sign-bucket with the bit count taken from a `params(bits)` CTE — the
    * SQL mirror of Similarity.adaptiveSignBits' occupancy-bounded sizing. */
  private def bucketSqlAdaptive(v: String): String =
    (1 to 20).map(i =>
      s"CASE WHEN $i <= (SELECT bits FROM params) AND CAST($v[$i] AS DOUBLE) >= 0 THEN ${1L << (i - 1)} ELSE 0 END")
      .mkString(" + ")

  private val simhashVotesSql: String = (0 until 32)
    .map(j => s"sum(CASE WHEN substr(md5(w), ${j + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS v_$j")
    .mkString(",\n    ")

  private val simhashValueSql: String = (0 until 32)
    .map(j => s"CASE WHEN v_$j > 0 THEN CAST(${1L << (31 - j)} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    .mkString(" + ")

  // 64-bit variant: vote 2j = high bit of md5 nibble j, vote 2j+1 = its
  // second bit (mirrors Dedup.simhash64 exactly). Bit 63 is the sign bit;
  // the disjoint-power sum stays in BIGINT range.
  private val simhash64VotesSql: String = (0 until 64)
    .map { j =>
      val ones =
        if (j % 2 == 0) "('8','9','a','b','c','d','e','f')"
        else "('4','5','6','7','c','d','e','f')"
      s"sum(CASE WHEN substr(md5(w), ${j / 2 + 1}, 1) IN $ones THEN 1 ELSE -1 END) AS v_$j"
    }
    .mkString(",\n    ")

  private val simhash64ValueSql: String = (0 until 64)
    .map(j => s"CASE WHEN v_$j > 0 THEN CAST(${1L << (63 - j)} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    .mkString(" + ")

  /** Shared shingle CTEs over `documents` (4-gram, distinct per doc). */
  private val shingleCtes: String =
    """toks AS (
      |  SELECT doc_id,
      |    unnest(string_split_regex(text, '\s+')) AS w,
      |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
      |  FROM documents),
      |sh_raw AS (
      |  SELECT doc_id,
      |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win || ' ' || lead(w, 3) OVER win AS shingle
      |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE shingle IS NOT NULL)""".stripMargin

  /** Exact jaccard pairs >= 0.8 over `documents` (ends in CTE `pairs`) —
    * the oracle mirror of the production guardedPairs frame, shared by the
    * clustering / weights / source-rank oracles. */
  private val jaccardPairsCteSql: String =
    s"""$shingleCtes,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |ip AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT id_a, id_b FROM ip
       |  JOIN sizes sa ON id_a = sa.doc_id
       |  JOIN sizes sb ON id_b = sb.doc_id
       |  WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.8)""".stripMargin

  /** Shared WITH-chain for the near-dup clustering oracles: exact jaccard
    * pairs at 0.8 → symmetric edges → 5 unrolled label-propagation rounds
    * (mirrors `Dedup.clusterLabels`; l5 = final labels). */
  /** The 5 unrolled min-label-propagation rounds over an `edges` CTE and
    * an `l0` seed — shared by every clustering oracle regardless of which
    * pair frame feeds `edges` (jaccard-only, or the ensemble union).
    * Each round is MATERIALIZED: DuckDB inlines plain CTEs, and round i
    * references round i-1 twice, so without materialization the whole
    * upstream pair-generation tree re-executes ~2^5 times (the ensemble
    * oracle measured minutes instead of seconds). Same results. */
  private val clusterRoundsSql: String = (1 to 5).map { i =>
    s"""l$i AS MATERIALIZED (
       |  SELECT l.doc_id, least(l.cluster_id, coalesce(m.nbr, l.cluster_id)) AS cluster_id
       |  FROM l${i - 1} l LEFT JOIN (
       |    SELECT e.src AS doc_id, min(x.cluster_id) AS nbr
       |    FROM edges e JOIN l${i - 1} x ON e.dst = x.doc_id GROUP BY 1) m
       |  USING (doc_id))""".stripMargin
  }.mkString(",\n")

  private val clusterChainSql: String =
    s"""$jaccardPairsCteSql,
       |edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL SELECT id_b, id_a FROM pairs),
       |l0 AS (SELECT doc_id, doc_id AS cluster_id FROM documents),
       |$clusterRoundsSql""".stripMargin

  /** Unrolled integer fixed-point PageRank oracle (mirrors
    * `Graph.pageRank`: 1e-9 BIGINT units, `//` integral division,
    * damping 85/100, dangling mass redistributed uniformly) over the
    * undirected source-duplication graph. */
  private val sourceRankSql: String = {
    val rounds = (1 to 5).map { i =>
      s"""dang$i AS (
         |  SELECT CAST(coalesce(sum(r), 0) AS BIGINT) AS ds FROM r${i - 1}
         |  WHERE node NOT IN (SELECT src FROM outw)),
         |ins$i AS (
         |  SELECT e.dst, CAST(sum((e.w * r.r) // o.ow) AS BIGINT) AS s
         |  FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |  JOIN outw o ON e.src = o.src GROUP BY e.dst),
         |r$i AS (
         |  SELECT n.node,
         |    CAST((CAST(1000000000 AS BIGINT) * 15) // (100 * nc.nn) +
         |      (85 * (coalesce(i.s, CAST(0 AS BIGINT)) + (d.ds // nc.nn))) // 100
         |      AS BIGINT) AS r
         |  FROM nodes n CROSS JOIN ncount nc CROSS JOIN dang$i d
         |  LEFT JOIN ins$i i ON n.node = i.dst)""".stripMargin
    }.mkString(",\n")
    s"""$jaccardPairsCteSql,
       |srcmap AS (SELECT doc_id, source FROM documents),
       |upairs AS (
       |  SELECT least(pa.source, pb.source) AS s1,
       |    greatest(pa.source, pb.source) AS s2,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM pairs
       |  JOIN srcmap pa ON pairs.id_a = pa.doc_id
       |  JOIN srcmap pb ON pairs.id_b = pb.doc_id
       |  WHERE pa.source <> pb.source GROUP BY 1, 2),
       |edges AS (
       |  SELECT s1 AS src, s2 AS dst, w FROM upairs
       |  UNION ALL SELECT s2, s1, w FROM upairs),
       |outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
       |nodes AS (SELECT DISTINCT source AS node FROM documents),
       |ncount AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
       |r0 AS (
       |  SELECT node, CAST(1000000000 AS BIGINT) // nc.nn AS r
       |  FROM nodes CROSS JOIN ncount nc),
       |$rounds""".stripMargin
  }

  private val minhashSigsCte: String = {
    val aggs = (0 until 8).map(i => s"min(md5('$i:' || shingle)) AS m_$i").mkString(", ")
    val fallbacks = (0 until 8).map(i => s"coalesce(m_$i, md5('$i:' || d.text)) AS sig_$i").mkString(", ")
    s"""m AS (SELECT doc_id, $aggs FROM sh GROUP BY doc_id),
       |sigs AS (SELECT d.doc_id, $fallbacks FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id)""".stripMargin
  }

  // SHARED-CACHE INVARIANTS (all TrieMap caches below; r17 advice,
  // documented): (1) entries assume an IMMUTABLE corpus per (session,
  // dir) — the parquet under `dir` is never regenerated mid-session in
  // any driver surface (Bench/Verify/RunOne build one session over one
  // frozen testdata dir); (2) first access is SINGLE-THREADED —
  // Bench.warmSharedCaches materializes every cache up front before the
  // sequential query loop, and Verify/RunOne run queries sequentially,
  // so getOrElseUpdate's evaluate-twice-under-race window is never
  // exercised (a drill's intra-query concurrently() jobs run AFTER its
  // closure resolved the caches); (3) entries live for the session —
  // no eviction, sized for the bench surface (checkpoints of
  // vocabulary-bounded or corpus-row-bounded frames).

  /** The classified input frame — the shared subplan of the whole pipeline
    * family (q_classify, q_consolidate, q_status_counts, q_job_counters,
    * q_reprocess_resolution). Cached once per (session, dir): a production
    * run classifies once and consumes the frame many times, exactly like
    * JobDispatch's in-pipeline cache — recomputing the classify joins per
    * downstream consumer would multiply the dominant subtree by the number
    * of consumers (at any scale). */
  private val classifiedCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def classified(s: SparkSession, dir: String): DataFrame =
    classifiedCache.getOrElseUpdate((s, dir),
      Validate.classifyKeyed(csvInput(s, dir), contactsStandIn(s, dir), jobUsersStandIn(s)).cache())

  /** Production near-duplicate pairs over `documents` — LSH band-collision
    * candidates + exact content-hash floor, exact-jaccard-verified on the
    * candidate sliver only (Dedup.nearDupPairsLsh): pair generation is
    * linear-ish in corpus size instead of the inverted-index join's
    * cross-section. Shared by q_corpus_prep, q_dedup_clusters and
    * q_minhash_accuracy exactly like a nightly pipeline computes pairs ONCE
    * (q_dedup_jaccard stays the uncached, exact inverted-index witness).
    * Cached per (session, dir). */
  /** Band-bucket stop cap for every production banding path (guardedPairs,
    * q_dedup_lsh_pairs_capped): buckets above this are boilerplate-keyed
    * crowds whose pair expansion is quadratic (the hot-band ×100 corpus put
    * ~70k docs in ONE bucket per band — killed at 25+ min where uniform
    * ×100 takes ~20 s). 2048 is ~100× the largest content-driven family on
    * any fixture, and caps a worst bucket at ~2M pairs. The uncapped forms
    * stay as exactness witnesses. */
  private val ProductionLshBucketCap = 2048

  private val guardedPairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def guardedPairs(s: SparkSession, dir: String): DataFrame =
    guardedPairsCache.getOrElseUpdate((s, dir), {
      val docs = pq(s, dir, "documents")
      graft.functions.Dedup.nearDupPairsLsh(docs, "doc_id", "text",
        n = 4, threshold = 0.8, bucketCap = ProductionLshBucketCap).cache()
    })

  /** The shared FROZEN full-corpus LM model stores (order 3 / order 5)
    * — the guardedPairs discipline applied to the persisted-model
    * families: a frozen model is built ONCE and served by many
    * consumers (the whole point of the persisted posture at 100 TB),
    * so the six order-3 and five order-5 full-corpus serve queries
    * read one shared store each instead of each rebuilding the
    * identical 9/17 tables inside its own closure. Bench attributes
    * the one-time builds as explicit `cache_lm3`/`cache_lm5` lines
    * (warmSharedCaches), so per-query numbers are honest SERVE costs
    * and the build is still computed from the parquet inputs on every
    * invocation — once, like production. Queries that build a
    * DIFFERENT model (holdout splits, append/delete maintenance,
    * count-pruned, vocabulary-capped, the positional-mode twin) keep
    * their own per-closure stores. */
  private val sharedStoreCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), graft.io.ParquetTableStore]
  private def sharedStore(
      s: SparkSession, dir: String, variant: String,
      partitionByCols: Option[Map[String, Seq[String]]] = None)(
      build: graft.io.TableStore => Unit): graft.io.ParquetTableStore =
    sharedStoreCache.getOrElseUpdate((s, dir, variant), {
      val root = java.nio.file.Files
        .createTempDirectory(s"graft_${variant}_shared_").toString
      val store = partitionByCols match {
        case Some(p) => new graft.io.ParquetTableStore(s, root,
          partitionByCols = p)
        case None => new graft.io.ParquetTableStore(s, root)
      }
      build(store)
      store
    })

  /** Shared checkpointed [[graft.functions.LmIndex.baseCounts]] frames —
    * the ONE-corpus-pass discipline applied ACROSS queries: every
    * consumer of the same (split, order) training corpus derives its
    * model from one checkpointed base instead of paying its own corpus
    * pass. `b5full` feeds the plain AND count-pruned AND
    * vocabulary-capped shared builds (three corpus passes → one);
    * `b5h80`/`b3h80` feed each order's inline holdout cross-score AND
    * its persisted-holdout build (two passes → one per order). Bench
    * attributes the materializations as cache_lm*_base lines. */
  private val lmBaseCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), DataFrame]
  private def lmSharedBase(
      s: SparkSession, dir: String, variant: String): DataFrame =
    lmBaseCache.getOrElseUpdate((s, dir, variant), {
      val d = pq(s, dir, "documents")
      val train80 = d.filter(col("doc_id") % 5 =!= 0)
      (variant match {
        case "b5full" => graft.functions.LmIndex.baseOf(5, d, "doc_id", "text")
        case "b5h80" =>
          graft.functions.LmIndex.baseOf(5, train80, "doc_id", "text")
        case "b3h80" =>
          graft.functions.LmIndex.baseOf(3, train80, "doc_id", "text")
      }).localCheckpoint()
    })

  private def lmSharedStore(
      s: SparkSession, dir: String, order: Int): graft.io.TableStore =
    sharedStore(s, dir, s"lm$order") { store =>
      if (order == 3)
        graft.functions.LmIndex.build(3, store, "lm3",
          pq(s, dir, "documents"), "doc_id", "text")
      else
        graft.functions.LmIndex.buildFromBase(5, store, "lm5",
          lmSharedBase(s, dir, "b5full"))
    }

  /** The 80%-split order-2 model (train on doc_id % 5 != 0) — the
    * persisted and probed holdout serves read it; the delete drill
    * clones it ([[graft.io.ParquetTableStore.cloneTo]]) and mutates its
    * private copy. */
  private def lm2hSharedStore(
      s: SparkSession, dir: String): graft.io.ParquetTableStore =
    sharedStore(s, dir, "lm2h") { store =>
      graft.functions.LmIndex.build(2, store, "lm",
        pq(s, dir, "documents").filter(col("doc_id") % 5 =!= 0),
        "doc_id", "text")
    }
  /** The trained logistic quality models — the same build-once
    * discipline for the eager GD trainer: q_lr_train / q_lr_filter /
    * q_lr_calibration fit the identical full-corpus model (same
    * features, label, steps, lr) and q_lr_holdout /
    * q_pipeline_manifest_v2 the identical 80%-split model; training ran
    * 20 GD aggregation jobs per closure. One shared 1-row model frame
    * per variant (logisticTrain localCheckpoints it), attributed as
    * cache_lr / cache_lr80 bench lines. */
  private val lrModelCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Boolean), DataFrame]
  private def lrModel(
      s: SparkSession, dir: String, full: Boolean): DataFrame =
    lrModelCache.getOrElseUpdate((s, dir, full), {
      import graft.functions.QualityModel
      val d = pq(s, dir, "documents")
      val train = if (full) d else d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      QualityModel.logisticTrain(train,
        QualityModel.docFeatures(col("text"), col("n_chars")),
        (col("n_chars") >= 300).cast("double"), steps = 20, lr = 1.0)
    })

  /** The shared trained k-means centroids (embeddings, k=16, iters=2)
    * — q_knn_ivf_trained and q_knn_recall_trained ran the identical
    * eager Lloyd's training twice; kmeansTrain localCheckpoints its
    * output, so memoizing the 16-row frame is free. cache_kmeans line. */
  private val kmeansCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def kmeansCents16(s: SparkSession, dir: String): DataFrame =
    kmeansCache.getOrElseUpdate((s, dir),
      graft.functions.Similarity.kmeansTrain(
        pq(s, dir, "embeddings"), "vec_id", "embedding", k = 16, iters = 2))

  /** The shared DSIR weights frame (docs vs the English-slice target,
    * 4096 buckets) — q_dsir_weights / q_dsir_sample / q_dsir_sample_strat
    * all computed it identically in-closure (two fit histogram passes +
    * one scoring pass each); the selection tails differ, the weights do
    * not. Cached like classify/guardedPairs, attributed as cache_dsir. */
  private val dsirWeightsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def dsirWeightsShared(s: SparkSession, dir: String): DataFrame =
    dsirWeightsCache.getOrElseUpdate((s, dir), {
      val docs = pq(s, dir, "documents")
      graft.functions.Sampling.dsirWeights(
        docs, "doc_id", "text", docs.filter(col("lang") === "en"), "text")
        .cache()
    })

  /** The count-pruned frozen gate model (pruneMin 2,2,2,2) — built once,
    * served by both pruned-model queries. Round 18: derives from the
    * SHARED UNPRUNED STORE's tables (its gram tables are the full count
    * tables, its m2/m3/m4 the full continuation counts — bit-identical
    * to the base-derived frames, spec-pinned), so the pruned build is
    * filter+aggregate writes over vocabulary-bounded stored tables: no
    * base re-aggregation, no m-table re-derivation (previously 5 + 3
    * such jobs inside cache_lm5_pruned). */
  private def lm5PrunedSharedStore(
      s: SparkSession, dir: String): graft.io.TableStore =
    sharedStore(s, dir, "lm5p") { store =>
      graft.functions.LmIndex.buildPrunedFromStore(
        5, lmSharedStore(s, dir, 5), "lm5", store, "lm5",
        pruneMin = Seq(2L, 2L, 2L, 2L))
    }

  /** The shared UNTRAINED full-corpus IVF index (nlist 16, lowest-id
    * stand-in centroids) — the persisted and pinned serves read it; the
    * delete drill clones + mutates. */
  private def ivfSharedStore(
      s: SparkSession, dir: String): graft.io.ParquetTableStore =
    // Variant "ann_ivf" so the store root keeps the graft_ann_ prefix
    // PlanQualitySpec's index-table scan gate keys on.
    sharedStore(s, dir, "ann_ivf",
      Some(graft.functions.AnnIndex.partitionSpec("ivf"))) { store =>
      graft.functions.AnnIndex.buildIvf(store, "ivf",
        pq(s, dir, "embeddings"), "vec_id", "embedding", nlist = 16)
    }

  /** The TRAINED IVF inverted lists over the shared k-means centroids —
    * the assignment pass ran identically in q_knn_ivf_trained,
    * q_knn_recall_trained and q_hybrid_ivf's build. One checkpointed
    * frame (corpus-assignment-sized), attributed as cache_ivf_lists. */
  private val ivfListsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def ivfListsTrained(s: SparkSession, dir: String): DataFrame =
    ivfListsCache.getOrElseUpdate((s, dir),
      graft.functions.Similarity.ivfInvertedLists(
        pq(s, dir, "embeddings"), kmeansCents16(s, dir),
        "vec_id", "embedding").localCheckpoint())

  /** The shared full-corpus order-5 modified-KN score frame (the
    * persisted gate model's serve output) — q_mkn5_persisted reports it
    * and q_ccnet_gate composes langid + per-language terciles over it;
    * each previously ran the identical nine-exchange scoring chain.
    * One corpus-row-sized checkpoint, attributed as cache_mkn5. */
  private val mkn5ScoresCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def mkn5ScoresShared(s: SparkSession, dir: String): DataFrame =
    mkn5ScoresCache.getOrElseUpdate((s, dir),
      graft.functions.LmIndex.score(
        5, lmSharedStore(s, dir, 5), "lm5", pq(s, dir, "documents"),
        "doc_id", "text", graft.functions.LmIndex.Mkn(Some((0.5, 1.0, 1.5))))
        .localCheckpoint())

  /** The holdout cross-score frames (orders 2, 3 and 5): the held-out
    * 20% scored inline against the 80%-split model — what
    * q_kn_score_holdout / q_kn3_holdout / q_kn5_holdout report. One
    * checkpointed frame per order (cache_lm2h/lm3h/lm5h_scores bench
    * lines). The persisted twins (q_kn_persisted,
    * q_kn{3,5}_persisted_holdout) share each order's oracle SQL verbatim
    * but serve from their own stores, so the hash compare pins
    * store-serve == inline cross-score under OOV (as LmHoldoutShareSpec
    * does). */
  private val lmhScoresCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, Int), DataFrame]
  private def lmhScoresShared(
      s: SparkSession, dir: String, order: Int): DataFrame =
    lmhScoresCache.getOrElseUpdate((s, dir, order), {
      val d = pq(s, dir, "documents")
      val held = d.filter(col("doc_id") % 5 === 0)
      // Orders 3 and 5 derive their frames from the shared 80%-split
      // base (its checkpoint also feeds their persisted twins' builds);
      // order 2 has no twin build from a base, so it counts inline.
      val model =
        if (order == 2) graft.functions.LmIndex.modelFrames(
          2, d.filter(col("doc_id") % 5 =!= 0), "doc_id", "text")
        else graft.functions.LmIndex.framesFromBase(
          order, lmSharedBase(s, dir, s"b${order}h80"))
      graft.functions.LmIndex.scoreFrames(model, held, "doc_id", "text",
        graft.functions.LmIndex.Kn()).localCheckpoint()
    })

  /** The shared pass-1 blocked pair-distance frame (brand blocks,
    * threshold 3) — the quadratic banded-levenshtein DP is the whole
    * cost of BOTH fuzzy-linkage operators; the NN aggregate and the
    * <=2 screen are cheap tails over it. cache_fuzzy line. */
  private val fuzzyPairsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def fuzzyBandedShared(s: SparkSession, dir: String): DataFrame =
    fuzzyPairsCache.getOrElseUpdate((s, dir),
      graft.operators.Linkage.bandedPairDistances(
        pq(s, dir, "part"), "p_partkey", "p_name", Seq("p_brand"),
        threshold = 3).localCheckpoint())

  /** The shared per-doc SimHash fingerprints, BOTH widths from one
    * corpus pass (Dedup.simhashBoth — the 64-bit votes subsume the
    * 32-bit ones, so the combined pass costs one explode + one groupBy
    * like the old 32-bit-only frame): the profile query reports the
    * 32-bit column, the 32-bit pair screen bands it, the 64-bit pair
    * screen bands `simhash64` (previously its own full corpus pass), and
    * the ensemble's width-adaptive switch reads whichever width fires.
    * Still attributed as the cache_sim32 bench line (key kept —
    * additions-only contract). */
  private val sim32Cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def sim32Shared(s: SparkSession, dir: String): DataFrame =
    sim32Cache.getOrElseUpdate((s, dir),
      graft.functions.Dedup.simhashBoth(
        pq(s, dir, "documents"), "doc_id", "text").localCheckpoint())

  /** The shared repeated-8-gram set (minDocs 2) — the corpus-frequency
    * half both the repetition profile (q_repeated_ngrams) and the span
    * excision (q_span_trim_text) consume; each previously re-ran the
    * distinct+group-by over every shingle position. cache_rep8 line. */
  private val rep8Cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def rep8Shared(s: SparkSession, dir: String): DataFrame =
    rep8Cache.getOrElseUpdate((s, dir),
      graft.functions.Dedup.repeatedShingles(
        pq(s, dir, "documents"), "doc_id", "text", n = 8, minDocs = 2)
        .localCheckpoint())

  /** The shared CCNet perplexity-tercile frame (order-2 KN score →
    * per-language tiles) — q_ppl_buckets reports it and
    * q_curriculum_order sorts by it; each previously ran the whole KN
    * chain. cache_ppl line. */
  private val pplStagesCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def pplStagesShared(s: SparkSession, dir: String): DataFrame =
    pplStagesCache.getOrElseUpdate((s, dir),
      graft.functions.TextAnalysis.pplBuckets(
        pq(s, dir, "documents"), "doc_id", "text", "lang", tiles = 3)
        .localCheckpoint())
  /** The full-corpus BM25 index — built once, read by the persisted,
    * pinned, and hybrid serves (the delete query mutates its index and
    * keeps its own store). */
  private def lexSharedStore(
      s: SparkSession, dir: String): graft.io.ParquetTableStore =
    sharedStore(s, dir, "lex") { store =>
      graft.functions.LexIndex.build(store, "lex", pq(s, dir, "documents"),
        "doc_id", "text")
    }

  /** Materialize the two cross-query shared caches, timing each — bench
    * attribution. Without this, whichever consumer happens to run first
    * absorbs the materialization cost (q_cluster_sizes absorbed ~4 s of
    * guardedPairs, q_classify ~2 s of the classify cache, every round) and
    * per-query floors read dishonestly. Bench calls it up front and emits
    * the timings as explicit `cache_*` lines; consumers then measure warm.
    * Returns (name, seconds). */
  def warmSharedCaches(s: SparkSession, dir: String): Seq[(String, Double)] = {
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    Seq(
      "cache_classify" -> time(classified(s, dir).count()),
      "cache_guardedPairs" -> time(guardedPairs(s, dir).count()),
      // The shared frozen-model builds (lmSharedStore): orders 5 and 3
      // run eagerly (store writes), so constructing the store IS the
      // materialization — no count() needed. The shared base-counts
      // frames (localCheckpoint = eager) get their own lines so the
      // store builds downstream of them measure as re-aggregations.
      "cache_lm5_base" -> time(lmSharedBase(s, dir, "b5full")),
      "cache_lm3" -> time(lmSharedStore(s, dir, 3)),
      "cache_lm5" -> time(lmSharedStore(s, dir, 5)),
      "cache_lm5_pruned" -> time(lm5PrunedSharedStore(s, dir)),
      "cache_lm2h" -> time(lm2hSharedStore(s, dir)),
      "cache_lm3h_base" -> time(lmSharedBase(s, dir, "b3h80")),
      "cache_lm5h_base" -> time(lmSharedBase(s, dir, "b5h80")),
      // The shared holdout cross-score frames (localCheckpoint = eager);
      // each order's inline holdout query and persisted twin serve one.
      "cache_lm2h_scores" -> time(lmhScoresShared(s, dir, 2)),
      "cache_lm3h_scores" -> time(lmhScoresShared(s, dir, 3)),
      "cache_lm5h_scores" -> time(lmhScoresShared(s, dir, 5)),
      "cache_lex" -> time(lexSharedStore(s, dir)),
      "cache_lr" -> time(lrModel(s, dir, full = true)),
      "cache_lr80" -> time(lrModel(s, dir, full = false)),
      "cache_dsir" -> time(dsirWeightsShared(s, dir).count()),
      "cache_kmeans" -> time(kmeansCents16(s, dir)),
      "cache_ivf" -> time(ivfSharedStore(s, dir)),
      "cache_ivf_lists" -> time(ivfListsTrained(s, dir)),
      "cache_rep8" -> time(rep8Shared(s, dir)),
      "cache_ppl" -> time(pplStagesShared(s, dir)),
      "cache_mkn5" -> time(mkn5ScoresShared(s, dir)),
      "cache_fuzzy" -> time(fuzzyBandedShared(s, dir)),
      "cache_sim32" -> time(sim32Shared(s, dir)))
  }

  /** Cross-source near-dup pair counts per unordered source pair (s1 < s2,
    * weight = pair count) — shared by the source-overlap report and the
    * source-PageRank edge builder, so the canonicalization can't drift
    * between them. */
  private def crossSourcePairCounts(s: SparkSession, dir: String): DataFrame = {
    val src = pq(s, dir, "documents").select(col("doc_id"), col("source"))
    guardedPairs(s, dir)
      .join(src.select(col("doc_id").as("id_a"), col("source").as("source_a")),
        Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("source_b")),
        Seq("id_b"))
      .filter(col("source_a") =!= col("source_b"))
      .select(least(col("source_a"), col("source_b")).as("s1"),
        greatest(col("source_a"), col("source_b")).as("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).cast("long").as("w"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S7/S8 — trim + drop-empty-rows (clean pass)
    "q_clean_rows" -> ((s, dir) => {
      val in = csvInput(s, dir)
      val fields = Seq("email", "first_name", "last_name", "company")
      in.select(col("row_number") +: fields.map(f => trimmed(col(f)).as(f)): _*)
        .filter(fields.map(f => col(f) =!= "").reduce(_ || _))
        .orderBy("row_number")
    }),

    // F1/V5 — email normalization
    "q_norm_email" -> ((s, dir) =>
      csvInput(s, dir)
        .select(col("row_number"), normEmail(col("email")).as("norm_email"))
        .orderBy("row_number")),

    // H1 — deterministic row hash (python-json-canonical sha256)
    "q_row_hash" -> ((s, dir) =>
      csvInput(s, dir)
        .select(
          col("row_number"),
          rowHash(col("job_id"), col("row_number"), col("email"),
            col("first_name"), col("last_name"), col("company")).as("row_hash"))
        .orderBy("row_number")),

    // A1/J3/V3 — duplicate-email detection (agg, both copies flagged)
    "q_dup_emails" -> ((s, dir) =>
      csvInput(s, dir)
        .select(normEmail(col("email")).as("norm_email"))
        .filter(col("norm_email") =!= "")
        .groupBy("norm_email").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") > 1)
        .orderBy("norm_email")),

    // J2/P4 — existing-contact semi-join (tenant-scoped)
    "q_existing_emails" -> ((s, dir) =>
      Validate.existingEmailsKeyed(csvInput(s, dir), contactsStandIn(s, dir), jobUsersStandIn(s))
        .select(col("existing_email").as("contact_email"))
        .orderBy("contact_email")),

    // V1-V4 — the full first-failure-wins classification (flagship)
    "q_classify" -> ((s, dir) =>
      classified(s, dir)
        .select("row_number", "norm_email", "staging_status", "issue_type", "issue_message")
        .orderBy("row_number")),

    // The KEYED (multi-job single-plan) classify — the wave dispatcher's
    // fast path under the oracle gate, not just specs: rows split into two
    // jobs with different tenants, so the dup and existing-contact sets
    // must stay job-scoped (a leak across jobs changes issue_type rows)
    "q_classify_keyed" -> ((s, dir) => {
      import s.implicits._
      val in = csvInput(s, dir)
        .withColumn("job_id", (lit(1) + col("row_number") % 2).cast("int"))
      val jobUsers = Seq((1, "u1"), (2, "u2")).toDF("job_id", "job_user_id")
      Validate.classifyKeyed(in, contactsStandIn(s, dir), jobUsers)
        .select(col("job_id"), col("row_number"), col("norm_email"),
          col("staging_status"), col("issue_type"), col("issue_message"))
        .orderBy("job_id", "row_number")
    }),

    // J1 — idempotency anti-join (skip already-staged rows by hash)
    "q_idempotent_skip" -> ((s, dir) => {
      val h = csvInput(s, dir).withColumn(
        "staging_row_hash",
        rowHash(col("job_id"), col("row_number"), col("email"),
          col("first_name"), col("last_name"), col("company")))
      val staged = h.filter(col("row_number") % 3 === 0)
        .select("job_id", "staging_row_hash")
      h.join(staged, Seq("job_id", "staging_row_hash"), "left_anti")
        .select("row_number").orderBy("row_number")
    }),

    // J6/W3 — issue derivation + dedupe merge (get_or_create, set-based)
    "q_issues" -> ((s, dir) =>
      Issues.deriveIssues(classified(s, dir))
        .select("issues_job_id", "issue_type", "issue_key", "issue_description")
        .orderBy("issue_type", "issue_key")),

    // J7/W5 — issue->staging link set
    "q_issue_items" -> ((s, dir) =>
      Issues.deriveIssueItems(classified(s, dir))
        .orderBy("issue_type", "issue_key", "item_staging_id")),

    // A4/A8 — one-pass status histogram
    "q_status_counts" -> ((s, dir) =>
      Consolidate.statusCounts(classified(s, dir)).orderBy("staging_status")),

    // A5/A6/W8 — job-level counters incl. the gating unresolved count
    "q_job_counters" -> ((s, dir) => {
      val c = classified(s, dir)
      Consolidate.jobCountersKeyed(
        c.withColumn("staging_job_id", col("job_id")), Issues.deriveIssues(c))
        .drop("job_id")
    }),

    // §3.2 reprocess + J5/W4 — user edits, DISCARD exclusion, issue merge,
    // deterministic resolution recompute
    "q_reprocess_resolution" -> ((s, dir) => {
      // The classified frame feeds staging0, issues0, and items0; without
      // caching, each reference re-expands the whole classify subtree (56
      // scans / 107 exchanges at plan level) — a non-starter at scale.
      // (classified() itself is cached — see classifiedCache.)
      val c = classified(s, dir)
      val staging0 = c.select(
        col("row_number").as("staging_id"),
        col("job_id"),
        trimmed(col("email")).as("staging_email"),
        trimmed(col("first_name")).as("staging_first_name"),
        trimmed(col("last_name")).as("staging_last_name"),
        trimmed(col("company")).as("staging_company"),
        col("staging_status"),
        col("issue_type").as("issue_type0"))
      // Simulated user edits: fix INVALID_EMAIL rows, discard blank-email rows.
      val edited = staging0
        .withColumn("staging_email",
          when(col("issue_type0") === "INVALID_EMAIL",
            concat(lit("fixed"), col("staging_id").cast("string"), lit("@example.com")))
            .otherwise(col("staging_email")))
        .withColumn("staging_status",
          when(col("staging_email") === "", lit("DISCARD"))
            .otherwise(col("staging_status")))
      val working = edited.filter(col("staging_status") =!= "DISCARD")
        .select(col("staging_id").as("row_number"), col("staging_id"), col("job_id"),
          col("staging_email").as("email"), col("staging_first_name").as("first_name"),
          col("staging_last_name").as("last_name"), col("staging_company").as("company"))
      val reclass = Validate.classifyKeyed(working, contactsStandIn(s, dir), jobUsersStandIn(s))
        .cache()
      val newStatus = edited.select("staging_id")
        .join(reclass.select(col("staging_id"), col("staging_status").as("ns")),
          Seq("staging_id"), "left")
        .select(col("staging_id"), coalesce(col("ns"), lit("DISCARD")).as("staging_status"))
      val issuesAll = Issues.mergeIssues(
        Issues.deriveIssues(c, "row_", "row_number"),
        Issues.deriveIssues(reclass, "staging_", "staging_id"))
      val items0 = Issues.deriveIssueItems(c, "row_", "row_number")
      val derived2 = Issues.deriveIssueItems(reclass, "staging_", "staging_id")
      val itemsAll = items0.unionByName(derived2.join(items0,
        Seq("issues_job_id", "issue_type", "issue_key", "item_staging_id"), "left_anti"))
      Issues.recomputeResolution(issuesAll, itemsAll, newStatus)
        .select("issue_type", "issue_key", "unresolved_items", "issue_resolved")
        .orderBy("issue_type", "issue_key")
    }),

    // ---- beyond-reference: text analysis over `documents` (SURVEY §7.6) --

    // token / subword / punctuation statistics (narrow, shuffle-free)
    "q_text_stats" -> ((s, dir) => {
      import graft.functions.TextAnalysis._
      pq(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        wordCount(col("text")).cast("long").as("n_words"),
        subwordCount(col("text")).cast("long").as("n_subwords"),
        punctRatio(col("text")).as("punct_ratio"))
        .orderBy("doc_id")
    }),

    // language-ID by stopword voting with deterministic tie-break
    "q_text_langid" -> ((s, dir) => {
      import graft.functions.TextAnalysis._
      val scored = langScores("text").foldLeft(pq(s, dir, "documents")) {
        case (d, (name, c)) => d.withColumn(name, c.cast("long"))
      }
      scored.select(
        col("doc_id") +: stopwords.map(l => col(s"hits_${l._1}")) :+
          langPredict(stopwords.map(l => s"hits_${l._1}")).as("predicted_lang"): _*)
        .orderBy("doc_id")
    }),

    // composite quality score (length, cleanliness, stopword density)
    "q_text_quality" -> ((s, dir) => {
      import graft.functions.TextAnalysis._
      pq(s, dir, "documents").select(
        col("doc_id"),
        qualityScore(col("text"), stopwordHits(col("text"), stopwords.head._2))
          .as("quality"))
        .orderBy("doc_id")
    }),

    // rolling-hash fingerprint (min md5 over 4-gram shingles)
    "q_text_fingerprint" -> ((s, dir) => {
      import graft.functions.TextAnalysis._
      fingerprints(pq(s, dir, "documents"), "doc_id", "text", 4).orderBy("doc_id")
    }),

    // ---- beyond-reference: dedup family over `documents` -----------------

    "q_dedup_exact" -> ((s, dir) =>
      graft.functions.Dedup.exact(pq(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "q_dedup_minhash" -> ((s, dir) =>
      graft.functions.Dedup.minhashSignatures(pq(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    "q_dedup_lsh_pairs" -> ((s, dir) =>
      graft.functions.Dedup.lshCandidatePairs(pq(s, dir, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b")),

    // The stop-band-guarded banding (bucketCap — the band join's dfCap
    // twin): buckets above the cap are corpus-wide boilerplate keys and
    // are dropped whole before pair expansion. Same oracle SQL as the
    // uncapped witness — no fixture bucket approaches the cap, so the two
    // must agree row-for-row here while diverging by design on a hot-band
    // corpus (where the uncapped witness is quadratic BY CONSTRUCTION and
    // stays excluded from that bench, like q_dedup_jaccard).
    "q_dedup_lsh_pairs_capped" -> ((s, dir) =>
      graft.functions.Dedup.lshCandidatePairs(pq(s, dir, "documents"), "doc_id", "text",
        bucketCap = ProductionLshBucketCap)
        .orderBy("id_a", "id_b")),

    "q_dedup_jaccard" -> ((s, dir) =>
      graft.functions.Dedup.jaccardPairs(pq(s, dir, "documents"), "doc_id", "text",
        n = 4, threshold = 0.8)
        .orderBy("id_a", "id_b")),

    // The dfCap-guarded exact-jaccard path (stop-shingles rerouted through
    // the pair-keyed decomposition — the production setting for corpora
    // with corpus-wide boilerplate): same answer as q_dedup_jaccard (one
    // oracle SQL pins both), bounded worst join bucket.
    "q_dedup_jaccard_capped" -> ((s, dir) =>
      graft.functions.Dedup.jaccardPairs(pq(s, dir, "documents"), "doc_id", "text",
        n = 4, threshold = 0.8, dfCap = 1000)
        .orderBy("id_a", "id_b")),

    // Leader-clustering text near-dup: members verify against their LSH
    // band-bucket / content-hash leaders only — candidate AND output volume
    // linear even over dense near-dup families where the all-pairs answer
    // is quadratic (the text twin of q_dedup_embedding_leader).
    "q_dedup_leaders" -> ((s, dir) =>
      graft.functions.Dedup.nearDupLeadersLsh(
        pq(s, dir, "documents"), "doc_id", "text", n = 4, threshold = 0.8)
        .orderBy("doc_id", "leader_id")),

    // Prefix-filtered EXACT jaccard pairs (AllPairs/PPJoin): same answer as
    // q_dedup_jaccard (the oracle is literally the same exact-pairs SQL) via
    // a ~(1-t)-sized prefix index instead of the full inverted index — the
    // exact-at-scale path between the quadratic witness and LSH's
    // false-negative banding.
    "q_dedup_prefix_pairs" -> ((s, dir) =>
      graft.functions.Dedup.jaccardPrefixFilterPairs(
        pq(s, dir, "documents"), "doc_id", "text", n = 4, threshold = 0.8)
        .orderBy("id_a", "id_b")),

    "q_dedup_simhash" -> ((s, dir) =>
      sim32Shared(s, dir).select("doc_id", "simhash").orderBy("doc_id")),

    // Policy survivor selection: exact-dup families collapse to the best
    // (priority, id) row — curated source (src1) beats everything else
    "q_dedup_survivor" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
        .withColumn("prio", when(col("source") === "src1", 0).otherwise(1))
      graft.functions.Dedup.exactWithPolicy(docs, "doc_id", "text", "prio")
        .select(col("doc_id"), col("text_hash"), col("survivor_id"), col("is_duplicate"))
        .orderBy("doc_id")
    }),

    // SimHash near-dup pairs: 4x8-bit band-bucket candidates + exact
    // bit_count verify. Unlike MinHash-LSH the banding is EXACT by
    // pigeonhole (hamming <= 3 over 4 disjoint bands forces >= 1 identical
    // band) — the oracle is the uncompromised all-pairs hamming join.
    "q_dedup_simhash_pairs" -> ((s, dir) =>
      graft.functions.Dedup.simhashPairsFrom(
        sim32Shared(s, dir), "doc_id", maxHamming = 1)
        .orderBy("id_a", "id_b")),

    // 64-bit SimHash pairs — the scale path once a 32-bit hash's band
    // buckets saturate (×100 audit: 0.57× linear from occupancy alone).
    // Same pigeonhole exactness, 2^32× the band key space; the oracle is
    // again the uncompromised all-pairs hamming join.
    "q_dedup_simhash64_pairs" -> ((s, dir) =>
      // The banding half over the shared combined-width fingerprint
      // frame (§1.2 — the explode + token md5 was this query's whole
      // cost, and simhashBoth already pays it for the 32-bit consumers).
      graft.functions.Dedup.simhashPairs64From(
        sim32Shared(s, dir), "doc_id", maxHamming = 3)
        .orderBy("id_a", "id_b")),

    // Incremental dedup: the newest 20% of documents deduped against the
    // older 80% via broadcast Bloom prefilter + exact verify — history never
    // shuffles; result equals the plain anti-join (oracle below). The cut is
    // data-relative (top 20% of ids) so the history/batch proportions hold
    // at every SF (a fixed cut degenerates to a 8%/92% split at sf0.1,
    // inverting the small-batch-vs-big-history shape the operator is for).
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      val cut = (docs.agg(max(col("doc_id"))).head().getLong(0) + 1) * 4 / 5
      val history = docs.filter(col("doc_id") < cut)
      val batch = docs.filter(col("doc_id") >= cut)
      graft.functions.Dedup.incrementalDedup(
        batch.select("doc_id", "text"), history, "doc_id", "text",
        expectedCorpusItems = cut)
        .select("doc_id").orderBy("doc_id")
    }),

    // Incremental NEAR-dup: the newest 20% of documents near-dedup'ed
    // against the older 80% — batch bands/shingles broadcast, corpus
    // shingled once (reused exchange). Data-relative cut, see
    // q_dedup_incremental.
    "q_dedup_incremental_near" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      val cut = (docs.agg(max(col("doc_id"))).head().getLong(0) + 1) * 4 / 5
      graft.functions.Dedup.incrementalNearDupPairs(
        docs.filter(col("doc_id") >= cut), docs.filter(col("doc_id") < cut),
        "doc_id", "text", n = 4, threshold = 0.8)
        .orderBy("id_a", "id_b")
    }),

    // Sketch-accuracy audit: MinHash-estimated jaccard (signature agreement
    // fraction) against the exact jaccard per near-dup pair — the validation
    // pass that justifies signature length k before trusting LSH at scale.
    // Audited on the shared production pair frame (guardedPairs) at the
    // production threshold: the audit must not cost more than the pipeline
    // it validates (it previously recomputed exact jaccard uncapped at 0.5).
    "q_minhash_accuracy" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      val pairs = guardedPairs(s, dir)
      val sigs = graft.functions.Dedup.minhashSignatures(docs, "doc_id", "text")
      val sa = sigs.toDF(sigs.columns.map(c => if (c == "doc_id") "id_a" else c + "_a"): _*)
      val sb = sigs.toDF(sigs.columns.map(c => if (c == "doc_id") "id_b" else c + "_b"): _*)
      val matches = (0 until 8)
        .map(i => when(col(s"sig_${i}_a") === col(s"sig_${i}_b"), 1).otherwise(0))
        .reduce(_ + _)
      pairs.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
        .select(col("id_a"), col("id_b"), col("jaccard"),
          round(matches.cast("double") / 8.0, 6).as("minhash_est"))
        .orderBy("id_a", "id_b")
    }),

    // Capstone composite: training-corpus preparation in ONE plan —
    // quality-filter, drop near-duplicate losers (keep min doc id), count
    // tokens. The shape a 100 TB pretraining pipeline runs nightly.
    "q_corpus_prep" -> ((s, dir) => {
      import graft.functions.{Dedup, TextAnalysis}
      val docs = pq(s, dir, "documents")
      // Production path: LSH-verified pairs (see guardedPairs) — candidate
      // generation is linear-ish, exact jaccard runs only on band
      // collisions, and the result equals the exact oracle on this corpus
      // (q_dedup_jaccard stays the uncapped inverted-index witness).
      val dupLosers = guardedPairs(s, dir)
        .select(col("id_b").as("doc_id")).distinct()
      docs
        .withColumn("quality", TextAnalysis.qualityScore(col("text"),
          TextAnalysis.stopwordHits(col("text"), TextAnalysis.stopwords.head._2)))
        .filter(col("quality") >= 0.6)
        .join(dupLosers, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("quality"),
          TextAnalysis.wordCount(col("text")).cast("long").as("n_tokens"))
        .orderBy("doc_id")
    }),

    // Token-budget sequence packing (pretraining batch assembly): greedy
    // packs in id order within deterministic shards — partitioned prefix
    // sum, no global window.
    "q_token_packing" -> ((s, dir) =>
      graft.functions.TextAnalysis.packTokens(pq(s, dir, "documents"), "doc_id", "text",
        budgetTokens = 512, shardSize = 100)
        .orderBy("doc_id")),

    // Corpus n-gram document frequencies, top-20: the profiling pass behind
    // the jaccard dfCap (stop-shingle) threshold choice — explode + one
    // groupBy + TakeOrdered, never a global sort of the full vocabulary
    "q_ngram_freq" -> ((s, dir) =>
      graft.functions.Dedup.shingleSets(pq(s, dir, "documents"), "doc_id", "text", n = 4)
        .groupBy("shingle").agg(count(lit(1)).cast("long").as("doc_freq"))
        .orderBy(col("doc_freq").desc, col("shingle"))
        .limit(20)),

    // Corpus-unigram LM score (CCNet-style perplexity-filter stand-in):
    // mean token log-likelihood under the corpus's own unigram model,
    // fixed-point long sums for order-independent cross-engine hashing
    "q_unigram_logprob" -> ((s, dir) =>
      graft.functions.TextAnalysis.unigramLogProb(pq(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Bigram-backoff LM score (one step toward the real CCNet KenLM
    // filter): ln(0.7*P_ml(w|prev) + 0.3*P(w)), first token pure unigram
    "q_bigram_logprob" -> ((s, dir) =>
      graft.functions.TextAnalysis.bigramLogProb(
        pq(s, dir, "documents"), "doc_id", "text", lambda = 0.7)
        .orderBy("doc_id")),

    // Trigram-interpolation LM score (one more backoff level): pos>=3
    // tokens mix 0.5*P_ml(w|p2,p1) + 0.3*P_ml(w|p1) + 0.2*P(w); the second
    // token is the 0.7/0.3 bigram mixture, the first pure unigram
    "q_trigram_logprob" -> ((s, dir) =>
      graft.functions.TextAnalysis.trigramLogProb(
        pq(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Char-trigram Naive-Bayes language ID (TextCat-family): profiles
    // trained from the corpus's own labels, Laplace-smoothed, argmax
    "q_langid_trigram" -> ((s, dir) =>
      graft.functions.TextAnalysis.charTrigramLangId(
        pq(s, dir, "documents"), "doc_id", "text", "lang")
        .orderBy("doc_id")),

    // C4-style rule filter with auditable reason codes (keep/drop verdict
    // per document; reasons in fixed order for deterministic reporting)
    "q_filter_report" -> ((s, dir) =>
      graft.functions.TextAnalysis.filterReport(pq(s, dir, "documents"), "doc_id", "text",
        minWords = 30, maxPunct = 0.2, maxTopWordFrac = 0.2)
        .orderBy("doc_id")),

    // Word-repetition profile (Gopher-style boilerplate/spam signal)
    "q_doc_repetition" -> ((s, dir) =>
      graft.functions.TextAnalysis.repetitionProfile(pq(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // Top-3 TF-IDF terms per document (smoothed idf, deterministic ties)
    "q_tfidf_top" -> ((s, dir) =>
      graft.functions.TextAnalysis.tfidfTopTerms(pq(s, dir, "documents"), "doc_id", "text", k = 3)
        .orderBy("doc_id", "rnk")),

    // BM25 lexical retrieval: top-5 docs per query (3 doc texts reused as
    // queries), Lucene-convention idf, broadcast query-term probe
    "q_bm25_topk" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      graft.functions.TextAnalysis.bm25TopK(
        docs, "doc_id", "text",
        docs.filter(col("doc_id") < 3).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 5)
        .orderBy("qid", "rnk")
    }),

    // HYBRID retrieval: reciprocal-rank fusion of the BM25 lexical
    // ranking with a brute-force cosine vector ranking (rank-based, so
    // the incomparable score scales fuse without calibration).
    "q_hybrid_rrf" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      val emb = pq(s, dir, "embeddings")
      val lex = graft.functions.TextAnalysis.bm25TopK(
          docs, "doc_id", "text",
          docs.filter(col("doc_id") < 3).select(col("doc_id"), col("text")),
          "doc_id", "text", k = 5)
        .select("qid", "doc_id", "rnk")
      val vec = graft.functions.Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 3), "vec_id", "embedding", k = 5)
        .select(col("query_id").as("qid"), col("vec_id").as("doc_id"),
          col("rank").cast("long").as("rnk"))
      graft.functions.LexIndex.rrfFuse(Seq(lex, vec), "qid", "doc_id", "rnk", k = 5)
        .orderBy("qid", "rnk")
    }),

    // The PRODUCTION hybrid retrieval — what hybridProbeEachBatch serves
    // per micro-batch: PERSISTED BM25 index ⊕ PERSISTED trained-IVF index
    // ⊕ reciprocal-rank fusion. q_hybrid_rrf above keeps the brute-force
    // vector side as the labeled witness; this is the composition a
    // deployment runs (both retrievers read only their index tables — no
    // corpus scan on the serve path). Oracle = nested full BM25 chain +
    // the trained-IVF chain (Lloyd's rounds replayed bit-exactly) + the
    // fixed-point RRF tail.
    "q_hybrid_ivf" -> ((s, dir) => {
      import graft.functions.{AnnIndex, LexIndex}
      val docs = pq(s, dir, "documents")
      val emb = pq(s, dir, "embeddings")
      val root = java.nio.file.Files.createTempDirectory("graft_hyb_").toString
      val lexStore = lexSharedStore(s, dir)
      val annStore = new graft.io.ParquetTableStore(s, root + "/ann",
        partitionByCols = AnnIndex.partitionSpec("ivf"))
      // Identical tables to buildIvf(trainIters = KnnTrainIters): the
      // trained centroids and assignment lists are the SHARED frames
      // (kmeansCents16 / ivfListsTrained — spec-pinned equality), so the
      // hybrid build writes them instead of re-training + re-assigning.
      AnnIndex.buildIvfFromFrames(annStore, "ivf",
        kmeansCents16(s, dir), ivfListsTrained(s, dir))
      val lex = LexIndex.bm25TopK(lexStore, "lex",
          docs.filter(col("doc_id") < 3).select(col("doc_id"), col("text")),
          "doc_id", "text", k = 5)
        .select("qid", "doc_id", "rnk")
      val ann = AnnIndex.ivfTopK(annStore, "ivf", emb.filter(col("vec_id") < 3),
          "vec_id", "embedding", k = 5, nprobe = 4)
        .select(col("query_id").as("qid"), col("vec_id").as("doc_id"),
          col("rank").cast("long").as("rnk"))
      LexIndex.rrfFuse(Seq(lex, ann), "qid", "doc_id", "rnk", k = 5)
        .orderBy("qid", "rnk")
    }),

    // PERSISTED BM25 index: build writes postings/doclens/stats/tombstone
    // tables through a TableStore; the serve plan reads ONLY those tables
    // (PlanQualitySpec gates no corpus re-scan beyond the query batch).
    // Shares q_bm25_topk's oracle — build/serve must be row-identical.
    "q_bm25_persisted" -> ((s, dir) => {
      import graft.functions.LexIndex
      val docs = pq(s, dir, "documents")
      val store = lexSharedStore(s, dir)
      LexIndex.bm25TopK(store, "lex",
          docs.filter(col("doc_id") < 3).select(col("doc_id"), col("text")),
          "doc_id", "text", k = 5)
        .orderBy("qid", "rnk")
    }),

    // Pseudo-relevance-feedback expansion: top-5 terms of each query's
    // top-5 BM25 docs by summed tf*idf, excluding the query's own terms
    "q_bm25_expansion" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      graft.functions.TextAnalysis.bm25ExpansionTerms(
        docs, "doc_id", "text",
        docs.filter(col("doc_id") < 3).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 5, m = 5)
        .orderBy("qid", "rnk")
    }),

    // RM3: the CLOSED expansion loop — original terms at weight 0.6 ∪
    // normalized top-5 feedback terms at weight 0.4 → a second weighted
    // BM25 pass (both passes replayed exactly by the oracle).
    "q_bm25_rm3" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      graft.functions.TextAnalysis.bm25Rm3TopK(
        docs, "doc_id", "text",
        docs.filter(col("doc_id") < 3).select(col("doc_id"), col("text")),
        "doc_id", "text", k = 5)
        .orderBy("qid", "rnk")
    }),

    // PINNED-SNAPSHOT lexical serve: frames resolved ONCE
    // (LexIndex.snapshot — the streaming serve loop's fast path).
    // Contractually row-identical to the fresh path, so it shares the
    // full oracle. The snapshot's 1-row stats cache is deliberately not
    // released (lazily evaluated by the caller; one cached row).
    "q_bm25_pinned" -> ((s, dir) => {
      import graft.functions.LexIndex
      val docs = pq(s, dir, "documents")
      val store = lexSharedStore(s, dir)
      LexIndex.bm25TopK(LexIndex.snapshot(store, "lex"),
          docs.filter(col("doc_id") < 3).select(col("doc_id"), col("text")),
          "doc_id", "text", k = 5, k1 = 1.2, b = 0.75, pruneTerms = true)
        .orderBy("qid", "rnk")
    }),

    // INCREMENTAL lexical index: build on a corpus prefix, append the
    // rest — shares the FULL-corpus oracle (append == rebuild; additive
    // stats, serve-time df from postings).
    "q_bm25_append" -> ((s, dir) => {
      import graft.functions.LexIndex
      val docs = pq(s, dir, "documents")
      val root = java.nio.file.Files.createTempDirectory("graft_lexa_").toString
      val store = new graft.io.ParquetTableStore(s, root)
      // §2.6 overlap drill: the batch's postings pass runs with the
      // build's staged writes, and the serve — over the pre-commit
      // tables plus the staged batch checkpoints, row-identical to the
      // committed index — runs with the append's two-phase commit.
      LexIndex.buildAppendTopK(store, "lex",
          docs.filter(col("doc_id") < 50), docs.filter(col("doc_id") >= 50),
          "doc_id", "text",
          docs.filter(col("doc_id") < 3).select(col("doc_id"), col("text")),
          "doc_id", "text", k = 5)
        .orderBy("qid", "rnk")
    }),

    // Lexical-index DELETION: tombstoned ids vanish from results AND
    // from df/avgdl/ndocs — oracled as a rebuild WITHOUT the deleted
    // docs (the GDPR-erasure contract).
    "q_bm25_delete" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.LexIndex
      val docs = pq(s, dir, "documents")
      // Clone the shared full-corpus index (file copy, no rebuild) and
      // tombstone the PRIVATE copy — the contract under test is the
      // deletion (tombstoned ids vanish from results AND stats), not
      // the build.
      val root = java.nio.file.Files.createTempDirectory("graft_lexd_").toString
      val store = lexSharedStore(s, dir).cloneTo(root)
      LexIndex.deleteDocs(store, "lex",
        Seq(3L, 4L, 5L, 6L, 7L).toDF("doc_id"), "doc_id")
      LexIndex.bm25TopK(store, "lex",
          docs.filter(col("doc_id") < 3).select(col("doc_id"), col("text")),
          "doc_id", "text", k = 5)
        .orderBy("qid", "rnk")
    }),

    // Eval-set decontamination: 8-gram overlap of every document against the
    // benchmark stand-in (source = 'src0'), benchmark side broadcast.
    "q_contamination" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      graft.functions.TextAnalysis.contaminationRate(
        docs, docs.filter(col("source") === "src0"), "doc_id", "text", n = 8)
        .orderBy("doc_id")
    }),

    // Deterministic per-source Bernoulli sampling (corpus mixing): content-
    // hash decisions, reproducible on any cluster layout — never df.sample()
    "q_stratified_sample" -> ((s, dir) =>
      graft.functions.Sampling.stratifiedSample(
        pq(s, dir, "documents").select("doc_id", "source"), "doc_id", "source",
        rates = Map("src0" -> 0.25, "src1" -> 0.5), defaultRate = 0.75)
        .orderBy("doc_id")),

    // Per-source quota (domain-cap primitive): keep 10 docs per source by
    // ascending doc_id priority — partitioned window, no global sort
    "q_source_cap" -> ((s, dir) =>
      graft.functions.Sampling.capPerKey(
        pq(s, dir, "documents").select("doc_id", "source"), "source", "doc_id", cap = 10)
        .orderBy("doc_id")),

    // PII redaction (narrow map stage) over a contact-ish text built from
    // the CSV-input stand-in: emails + NNN-NNN-NNNN phones scrubbed, match
    // counts on the original text
    // Luhn-VALIDATED credit-card redaction: a deterministic 13-digit
    // account number per customer (Knuth-hash of the key) is a
    // candidate, and ~10% pass the checksum by chance — a mixed fixture
    // proving the cross-engine Luhn fold (blind digit-run redaction
    // would eat all of them)
    "q_pii_cc" -> ((s, dir) => {
      val t = pq(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("doc_id"),
          concat(lit("acct "),
            lpad(pmod(col("c_custkey").cast("long") * lit(2654435761L),
              lit(10000000000000L)).cast("string"), 13, "0"),
            lit(" end")).as("text"))
      graft.functions.Pii.redactCreditCards(t, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // IBAN redaction with the mod-97 check: deterministic GB##BANK+13
    // account strings, valid at the ~1/97 chance rate — the
    // international sibling of q_pii_cc's Luhn fixture
    "q_pii_iban" -> ((s, dir) => {
      val t = pq(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("doc_id"),
          concat(lit("iban GB"),
            lpad(pmod(col("c_custkey").cast("long") * lit(7919L),
              lit(100L)).cast("string"), 2, "0"),
            lit("BANK"),
            lpad(pmod(col("c_custkey").cast("long") * lit(2654435761L),
              lit(10000000000000L)).cast("string"), 13, "0"),
            lit(" ok")).as("text"))
      graft.functions.Pii.redactIbans(t, "doc_id", "text")
        .orderBy("doc_id")
    }),

    "q_pii_scrub" -> ((s, dir) => {
      val txt = csvInput(s, dir).select(col("row_number"),
        concat(lit("reach "), col("email"), lit(" at 555-"),
          lpad((col("row_number") % 1000).cast("string"), 3, "0"), lit("-"),
          lpad((col("row_number") % 10000).cast("string"), 4, "0")).as("text"))
      graft.functions.Pii.redact(txt, "row_number", "text").orderBy("row_number")
    }),

    // Multi-level aggregation in one pass: ROLLUP (day, event_type) computes
    // per-type, per-day, and grand totals with a single shuffle — the
    // OLAP-cube shape. grouping_id disambiguates subtotal levels (NULL
    // grouping values alone are ambiguous).
    "q_events_rollup" -> ((s, dir) =>
      events(s, dir)
        .select(to_date(col("ts")).as("day"), col("event_type"), col("value"))
        .rollup("day", "event_type")
        .agg(count(lit(1)).as("n"),
          // decimal intermediate, round(double,6) output (q_tpch_pricing note)
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6).as("total_value"),
          grouping_id().cast("long").as("lvl"))
        // NULL grouping markers projected to sentinels, and DATE rendered as
        // ISO string: the driver comparator's pandas loaders disagree on
        // date32 vs DATE physical types (and on mixed None/date sorting)
        .select(coalesce(date_format(col("day"), "yyyy-MM-dd"), lit("1900-01-01")).as("day"),
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          col("n"), col("total_value"), col("lvl"))
        .orderBy("lvl", "day", "event_type")),

    // Cohort retention: users grouped by first-seen day, activity counted by
    // day offset from that cohort day. Two aggregations + one equi-join on
    // user — the canonical engagement query, all shuffles keyed and bounded.
    "q_user_retention" -> ((s, dir) => {
      val ev = events(s, dir).select(col("user_id"), to_date(col("ts")).as("day"))
      val cohort = ev.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      val active = ev.distinct()
      active.join(cohort, Seq("user_id"))
        .select(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
        .groupBy("cohort_day", "day_offset")
        .agg(count(lit(1)).cast("long").as("n_users"))
        .filter(col("day_offset") <= 7)
        // DATE -> ISO string for loader-agnostic comparison (see rollup note)
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
          col("day_offset"), col("n_users"))
        .orderBy("cohort_day", "day_offset")
    }),

    // Ordered funnel: signup -> first view after signup -> first click after
    // that view, per user; one row per stage with the surviving user count.
    // Conditional min-aggregations per user (single shuffle), no self-joins.
    "q_events_funnel" -> ((s, dir) => {
      val ev = events(s, dir).select("user_id", "event_type", "ts")
      val stages = ev.groupBy("user_id")
        .agg(min(when(col("event_type") === "signup", col("ts"))).as("t_signup"))
        .join(ev.filter(col("event_type") === "view"), Seq("user_id"), "left")
        .groupBy("user_id", "t_signup")
        .agg(min(when(col("ts") > col("t_signup"), col("ts"))).as("t_view"))
        .join(ev.filter(col("event_type") === "click"), Seq("user_id"), "left")
        .groupBy("user_id", "t_signup", "t_view")
        .agg(min(when(col("ts") > col("t_view"), col("ts"))).as("t_click"))
      stages.agg(
        count(col("t_signup")).cast("long").as("n_signup"),
        count(col("t_view")).cast("long").as("n_view"),
        count(col("t_click")).cast("long").as("n_click"))
    }),

    // TPC-H Q3 shape (shipping priority): selective dim filter broadcast
    // into a fact-fact equi-join, aggregate, then TakeOrdered top-10 — the
    // third heft witness (Q1 = q_tpch_pricing, Q5 = q_tpch_revenue)
    "q_tpch_shipping" -> ((s, dir) => {
      val cut = lit("1998-01-01").cast("timestamp")
      val cust = pq(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = pq(s, dir, "orders").filter(col("o_orderdate") < cut)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val li = pq(s, dir, "lineitem").filter(col("l_shipdate") > cut)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,6)")).as("rev"))
        // top-10 selected on the EXACT decimal; output projected to
        // round(double,6) after the limit — see q_tpch_pricing note
        .orderBy(col("rev").desc, col("o_orderdate"), col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"), round(col("rev").cast("double"), 6).as("revenue"),
          col("o_orderdate"), col("o_orderpriority"))
    }),

    // Distributed variance via single-pass algebraic moments (n, sum, sum of
    // squares): the moments are map-side-combinable and merge associatively —
    // the one-pass shape for statistics at 100 TB (vs two-pass mean-then-
    // deviation). Exact here: quantities are integer-valued, so the double
    // sums are order-independent, making the result oracle-verifiable
    // (built-in stddev/var would differ across engines in the last bits).
    "q_brand_stats" -> ((s, dir) => {
      val li = pq(s, dir, "lineitem").select(col("l_partkey"), col("l_quantity"))
      val part = pq(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).cast("long").as("n"),
          sum(col("l_quantity")).as("s1"),
          sum(col("l_quantity") * col("l_quantity")).as("s2"))
        .select(col("p_brand"), col("n"),
          round(col("s1") / col("n"), 6).as("avg_qty"),
          round((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1), 6)
            .as("var_qty"))
        .orderBy("p_brand")
    }),

    // Salted skew-proof join: every event joined to its type's profile —
    // event_type has 5 heavily-hot keys, the exact shape where a plain
    // shuffle join piles each type onto one reducer. Provably identical to
    // the plain join (the oracle), with the hot keys spread over 16 reducers.
    "q_skew_join_salted" -> ((s, dir) => {
      val ev = events(s, dir).select("event_id", "event_type", "value")
      val dim = ev.groupBy("event_type").agg(round(avg(col("value")), 6).as("type_avg"))
      graft.operators.Joins.saltedJoin(ev, dim, Seq("event_type"), salts = 16)
        .orderBy("event_id")
    }),

    // Adaptive skew join: hot keys measured then salted; light keys join
    // plain — replication cost tracks actual skew, not small-side size.
    // hotThreshold is set so some event types qualify as hot at sf0.01+
    // (each type carries thousands of rows) — both code paths execute.
    "q_skew_join_adaptive" -> ((s, dir) => {
      val ev = events(s, dir).select("event_id", "event_type", "value")
      val dim = ev.groupBy("event_type").agg(round(avg(col("value")), 6).as("type_avg"))
      graft.operators.Joins.adaptiveSaltedJoin(ev, dim, Seq("event_type"),
        salts = 16, hotThreshold = 3000L)
        .orderBy("event_id")
    }),

    // Fixed-width histogram of event values per type: one groupBy on
    // (type, bucket) — the profiling shape that replaces driver-side
    // .collect() histograms at scale
    "q_value_histogram" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          floor(col("value") / 100.0).cast("long").as("bucket"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy("event_type", "bucket")),

    // Dataset profiling: null rate / distinct count / min / max per column
    // in ONE pass over the table (every aggregate is partial+final) — the
    // data-quality snapshot a pipeline emits before training ingestion
    "q_profile_documents" -> ((s, dir) =>
      pq(s, dir, "documents").agg(
        count(lit(1)).cast("long").as("n_rows"),
        count(col("text")).cast("long").as("text_nonnull"),
        countDistinct(col("lang")).cast("long").as("lang_distinct"),
        countDistinct(col("source")).cast("long").as("source_distinct"),
        min(col("n_chars")).cast("long").as("chars_min"),
        max(col("n_chars")).cast("long").as("chars_max"),
        round(avg(col("n_chars")), 6).as("chars_avg"))),

    // Pivot (long -> wide): per-day counts pivoted into one column per event
    // type. Values pinned explicitly — an unpinned pivot runs an extra
    // distinct pass AND makes the output schema data-dependent (a schema
    // that changes with the data is an anti-pattern at any scale).
    "q_events_pivot" -> ((s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val pivoted = events(s, dir)
        .select(to_date(col("ts")).as("day"), col("event_type"))
        .groupBy("day").pivot("event_type", types).agg(count(lit(1)))
      // DATE -> ISO string for loader-agnostic comparison (see rollup note)
      pivoted.select(date_format(col("day"), "yyyy-MM-dd").as("day") +:
        types.map(t => coalesce(col(t), lit(0L)).cast("long").as(t)): _*)
        .orderBy("day")
    }),

    // Per-group approximate distinct via the KMV typed Aggregator: O(k)
    // mergeable state per group — the sketch shape that replaces
    // COUNT(DISTINCT) at 100 TB.
    "q_kmv_groups" -> ((s, dir) => {
      import org.apache.spark.sql.functions.udaf
      val kmv = udaf(new graft.functions.KmvAggregator(256))
      events(s, dir)
        .select(col("event_type"), graft.functions.Sketches.knuthHash(col("user_id")).as("hv"))
        .groupBy("event_type")
        .agg(kmv(col("hv")).as("approx_users"))
        .orderBy("event_type")
    }),

    // HyperLogLog per-group distinct (5th sketch classic): FIXED 2^p-byte
    // registers per group, merged by byte-max — constant shuffle bytes per
    // (group, partition) at any cardinality. Register state is integer-exact
    // cross-engine (md5-prefix hash, bin()-length rho, scaled-integer
    // harmonic denominator), so the oracle verifies the sketch itself
    // (s_scaled, zero_buckets), not just a tolerance band.
    "q_hll_groups" -> ((s, dir) => {
      import org.apache.spark.sql.functions.udaf
      val hll = udaf(new graft.functions.HllAggregator(10))
      events(s, dir)
        .select(col("event_type"),
          coalesce(graft.functions.HllAggregator.md5Hash60(col("user_id")),
            lit(-1L)).as("hv"))
        .groupBy("event_type")
        .agg(hll(col("hv")).as("r"))
        .select(col("event_type"), col("r.approx_distinct").as("approx_users"),
          col("r.s_scaled").as("s_scaled"), col("r.zero_buckets").as("zero_buckets"))
        .orderBy("event_type")
    }),

    // Bounded per-group top-k as a MERGEABLE AGGREGATION (TopKAggregator):
    // map-side combine cuts each (group, partition) to k rows before the
    // shuffle — vs the window form that shuffles and sorts every row
    // (q_events_topk_users keeps the global TakeOrdered witness)
    "q_topk_per_key" -> ((s, dir) => {
      import org.apache.spark.sql.functions.udaf
      val topk = udaf(new graft.functions.TopKAggregator(3))
      events(s, dir)
        .groupBy("event_type")
        .agg(topk(col("value"), col("event_id")).as("top"))
        .select(col("event_type"), posexplode(col("top.items")).as(Seq("p", "item")))
        .select(col("event_type"), (col("p") + 1).cast("long").as("rnk"),
          col("item.id").as("event_id"), col("item.ord").as("value"))
        .orderBy("event_type", "rnk")
    }),

    // KMV sketch set algebra: cross-source user-set overlap (union /
    // intersection / Jaccard) from two O(k) sketches alone — the full sets
    // never co-shuffle; k=64 < |users| so the estimator path is exercised
    "q_kmv_jaccard" -> ((s, dir) => {
      val ev = events(s, dir)
      graft.functions.Sketches.kmvSetStats(
        ev.filter(col("event_type") === "click").select("user_id"),
        ev.filter(col("event_type") === "view").select("user_id"),
        "user_id", k = 64)
    }),

    // Exact per-group percentiles (sort-based `percentile`, oracle
    // bit-parity). Exactness costs a per-group sort; at 100 TB swap in
    // approx_percentile (t-digest, mergeable) when the group count explodes —
    // here groups = |event_type| = 5, so exact is the right default.
    "q_events_percentiles" -> ((s, dir) =>
      events(s, dir).groupBy("event_type")
        .agg(round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.95)"), 6).as("p95"),
          count(lit(1)).as("n"))
        .orderBy("event_type")),

    // Exact GLOBAL order statistics via iterative histogram refinement — no
    // global sort, no whole-column aggregation buffer: ~bins× candidate
    // shrink per scan with range filters Parquet pushes down. The result is
    // an exact element (rank ceil(q*n)), so quantile_disc oracles it.
    "q_exact_quantiles" -> ((s, dir) => {
      import s.implicits._
      // directLimit forces at least one refinement round at sf >= 0.01
      val Seq(p50, p90, p99) = graft.functions.Quantiles.exactQuantilesDisc(
        events(s, dir), "value", Seq(0.5, 0.9, 0.99), bins = 256, directLimit = 4096)
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((r6(p50), r6(p90), r6(p99))).toDF("p50", "p90", "p99")
    }),

    // ---- beyond-reference: similarity search over `embeddings` -----------

    // Per-label class centroids (k-means/IVF training pass, per-class
    // prototypes) — element-wise means, partial+final all the way
    "q_label_centroids" -> ((s, dir) =>
      graft.functions.Similarity.labelCentroids(pq(s, dir, "embeddings"), "label", "embedding")
        .orderBy("label")),

    // Deterministic int8 max-abs quantization (ANN storage compression)
    "q_embedding_quantize" -> ((s, dir) =>
      graft.functions.Similarity.quantizeInt8(pq(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id")),

    "q_knn_brute" -> ((s, dir) => {
      val emb = pq(s, dir, "embeddings")
      graft.functions.Similarity.bruteForceTopK(
        emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("vec_id"), col("cos_sim"), col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    "q_knn_bucketed" -> ((s, dir) => {
      val emb = pq(s, dir, "embeddings")
      graft.functions.Similarity.bucketedTopK(
        emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3)
        .select(col("query_id"), col("vec_id"), col("cos_sim"), col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // One Lloyd's k-means iteration (assign to nearest seed + recompute
    // means) — the IVF coarse-quantizer training-loop body as aggregates
    "q_kmeans_step" -> ((s, dir) =>
      graft.functions.Similarity.kmeansStep(
        pq(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
        .orderBy("cent_id")),

    // IVF recall audit: recall@3 of the probed IVF search against the
    // brute-force ground truth per query — the validation pass that sizes
    // nlist/nprobe before trusting the index at scale (the ANN sibling of
    // q_minhash_accuracy). Ties inside the top-k are broken by vec_id on
    // both paths, so the comparison is deterministic.
    "q_knn_recall" -> ((s, dir) => {
      val emb = pq(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
      val brute = graft.functions.Similarity.bruteForceTopK(
        emb, qs, "vec_id", "embedding", k = 3)
        .select("query_id", "vec_id")
      val ivf = graft.functions.Similarity.ivfTopK(
        emb, qs, "vec_id", "embedding", k = 3, nlist = 16, nprobe = 4)
        .select("query_id", "vec_id")
      val hits = brute.join(ivf, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      qs.select(col("vec_id").as("query_id")).join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          round(coalesce(col("h"), lit(0)).cast("double") / 3.0, 6).as("recall_at_3"))
        .orderBy("query_id")
    }),

    // IVF ANN: coarse-quantizer assignment (inverted lists) + probed exact
    // search — the billion-scale index dataflow, oracle-verified end to end.
    "q_knn_ivf" -> ((s, dir) => {
      val emb = pq(s, dir, "embeddings")
      graft.functions.Similarity.ivfTopK(
        emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        k = 3, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("vec_id"), col("cos_sim"), col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // PERSISTED IVF index: build writes centroid + inverted-list tables
    // through a TableStore; the search plan then reads ONLY those tables
    // (PlanQualitySpec gates no embeddings.parquet scan at query time).
    // Shares q_knn_ivf's oracle — build/serve must be row-identical.
    "q_knn_ivf_persisted" -> ((s, dir) => {
      import graft.functions.AnnIndex
      val emb = pq(s, dir, "embeddings")
      val store = ivfSharedStore(s, dir)
      AnnIndex.ivfTopK(store, "ivf", emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 3, nprobe = 4)
        .select(col("query_id"), col("vec_id"), col("cos_sim"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // PINNED-SNAPSHOT serve: the index frames are resolved ONCE
    // (AnnIndex.ivfSnapshot — the streaming serve loop's fast path) and
    // the query runs against the snapshot. Contractually row-identical
    // to the fresh path, so it shares q_knn_ivf's oracle. The snapshot
    // is deliberately not released: the result frame is evaluated lazily
    // by the caller, and the cached frame is nlist rows.
    "q_knn_ivf_pinned" -> ((s, dir) => {
      import graft.functions.AnnIndex
      val emb = pq(s, dir, "embeddings")
      AnnIndex.ivfTopK(AnnIndex.ivfSnapshot(ivfSharedStore(s, dir), "ivf"),
          emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 3, nprobe = 4, pruneProbed = true)
        .select(col("query_id"), col("vec_id"), col("cos_sim"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // TRAINED coarse quantizer: 2 Lloyd's rounds over the corpus replace
    // the lowest-id stand-in centroids; the search dataflow is untouched
    // (the swap the ivfTopK scaladoc promises). The oracle replays every
    // training round bit-exactly (fixed-point means), pinning the whole
    // trained index path end to end.
    "q_knn_ivf_trained" -> ((s, dir) => {
      import graft.functions.Similarity
      val emb = pq(s, dir, "embeddings")
      Similarity.ivfSearch(kmeansCents16(s, dir), ivfListsTrained(s, dir),
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 3, nprobe = 4)
        .select(col("query_id"), col("vec_id"), col("cos_sim"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // Recall audit of the TRAINED index against brute-force ground truth
    // — the measurement that justifies paying the training passes
    // (compare per-query to q_knn_recall's stand-in numbers; BASELINE.md
    // records the aggregate).
    "q_knn_recall_trained" -> ((s, dir) => {
      import graft.functions.Similarity
      val emb = pq(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
      val brute = Similarity.bruteForceTopK(
        emb, qs, "vec_id", "embedding", k = 3)
        .select("query_id", "vec_id")
      val ivf = Similarity.ivfSearch(kmeansCents16(s, dir),
          ivfListsTrained(s, dir),
          qs, "vec_id", "embedding", k = 3, nprobe = 4)
        .select("query_id", "vec_id")
      val hits = brute.join(ivf, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      qs.select(col("vec_id").as("query_id")).join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          round(coalesce(col("h"), lit(0)).cast("double") / 3.0, 6).as("recall_at_3"))
        .orderBy("query_id")
    }),

    // DELETION without rebuild: tombstoned ids vanish from the serve
    // results the moment deleteVectors returns — the oracle IS the
    // rebuild-without-deleted index, so delete-then-query == rebuild is
    // pinned row for row. (Deleted ids are all >= 16, so the frozen
    // coarse quantizer equals the rebuilt one and the equality is exact.)
    "q_knn_ivf_delete" -> ((s, dir) => {
      import graft.functions.AnnIndex
      val emb = pq(s, dir, "embeddings")
      // Clone the shared index (file copy; partition layout preserved)
      // and tombstone the private copy — the deletion contract is what
      // the oracle pins, not the rebuild.
      val root = java.nio.file.Files.createTempDirectory("graft_ann_del_").toString
      val store = ivfSharedStore(s, dir).cloneTo(root)
      AnnIndex.deleteVectors(store, "ivf",
        emb.filter((col("vec_id") >= 16) && (col("vec_id") % 7 === 3)), "vec_id")
      AnnIndex.ivfTopK(store, "ivf", emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", k = 3, nprobe = 4)
        .select(col("query_id"), col("vec_id"), col("cos_sim"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // INCREMENTAL index maintenance: build on the first 80% of the
    // corpus, APPEND the rest against the persisted centroids (no
    // rebuild, no rescan of the indexed corpus), then query. The 16
    // lowest-id centroids live in the base, so (frozen centroids + union
    // lists) is exactly the full-corpus index — the query shares
    // q_knn_ivf's oracle, pinning append == rebuild row-for-row.
    "q_knn_ivf_append" -> ((s, dir) => {
      import graft.functions.AnnIndex
      val emb = pq(s, dir, "embeddings")
      val cut = emb.agg(max(col("vec_id"))).head().getAs[Number](0).longValue() * 4 / 5
      val root = java.nio.file.Files.createTempDirectory("graft_ann_inc_").toString
      val store = new graft.io.ParquetTableStore(s, root,
        partitionByCols = AnnIndex.partitionSpec("ivf"))
      // §2.6 overlap drill (the q_kn5_append pattern): batch assignment
      // ∥ build writes, serve ∥ append commit; physical build+append and
      // the shared append==rebuild oracle unchanged.
      AnnIndex.buildAppendTopKIvf(store, "ivf",
          emb.filter(col("vec_id") < cut), emb.filter(col("vec_id") >= cut),
          "vec_id", "embedding", nlist = 16,
          emb.filter(col("vec_id") < 5), k = 3, nprobe = 4)
        .select(col("query_id"), col("vec_id"), col("cos_sim"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    // PERSISTED PQ index: codebook + byte codes are the only tables the
    // ADC query touches — the 32x-compressed serving footprint, with the
    // raw float vectors absent from the query plan entirely.
    "q_pq_adc_persisted" -> ((s, dir) => {
      import graft.functions.AnnIndex
      val emb = pq(s, dir, "embeddings")
      val root = java.nio.file.Files.createTempDirectory("graft_ann_pq_").toString
      val store = new graft.io.ParquetTableStore(s, root)
      AnnIndex.buildPq(store, "pq", emb, "vec_id", "embedding",
        dims = 64, m = 8, ksub = 16)
      AnnIndex.pqAdcTopK(store, "pq", emb.filter(col("vec_id") < 5),
          "vec_id", "embedding", dims = 64, m = 8, k = 3)
        .orderBy("query_id", "rnk")
    }),

    "q_dedup_embedding" -> ((s, dir) =>
      graft.functions.Similarity.embeddingDupPairs(
        pq(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
        .orderBy("id_a", "id_b")),

    // The production embedding-dedup path: sign-bucket equi-join prefilter +
    // exact verify (the oracle carries the same bucket-join semantics).
    "q_dedup_embedding_bucketed" -> ((s, dir) =>
      graft.functions.Similarity.embeddingDupPairsBucketed(
        pq(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
        .orderBy("id_a", "id_b")),

    // Leader-clustering embedding dedup: one cosine per member against its
    // bucket leader — work AND output linear even when a dense near-dup
    // family makes the all-pairs answer quadratic (the measured ×100
    // regime; see BenchScale). Canopy/SemDeDup-style recall trade.
    "q_dedup_embedding_leader" -> ((s, dir) =>
      graft.functions.Similarity.embeddingDedupLeaders(
        pq(s, dir, "embeddings"), "vec_id", "embedding", threshold = 0.4)
        .orderBy("vec_id")),

    // Product-quantization encoding: 64-dim float vectors -> 8 byte codes
    // (32x ANN memory compression; broadcast codebooks, partial-aggregable
    // argmin, pinned pivot — corpus never self-joins or window-shuffles)
    "q_pq_encode" -> ((s, dir) =>
      graft.functions.Similarity.pqEncode(
        pq(s, dir, "embeddings"), "vec_id", "embedding", dims = 64, m = 8, ksub = 16)
        .orderBy("vec_id")),

    // PQ asymmetric-distance search: full-precision queries against the
    // 8-byte codes via a broadcast m x ksub distance table — the scoring
    // loop of a compressed billion-vector index
    "q_pq_adc" -> ((s, dir) => {
      val emb = pq(s, dir, "embeddings")
      graft.functions.Similarity.pqAdcTopK(
        emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        dims = 64, m = 8, ksub = 16, k = 3)
        .orderBy("query_id", "rnk")
    }),

    // Recall audit of TRAINED PQ codebooks against brute-force ground
    // truth — the measurement that justifies the per-subspace Lloyd's
    // rounds over the lowest-id stand-in (compare per-query to
    // q_pq_recall's stand-in numbers; BASELINE.md records the aggregate).
    // The oracle replays every training round bit-exactly (fixed-point
    // per-dimension means), pinning the whole trained-PQ path end to end.
    "q_pq_recall_trained" -> ((s, dir) => {
      import graft.functions.Similarity
      val emb = pq(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
      // §2.6: the brute-force ground truth is independent of the eager
      // per-subspace Lloyd's rounds — materialize it (k·|queries| rows)
      // concurrently with the training jobs instead of serially after.
      val Seq(cbAny, bruteAny) = graft.functions.Jobs.concurrently[Any](Seq(
        () => Similarity.pqCodebookTrained(emb, "vec_id", "embedding",
          dims = 64, m = 8, ksub = 16, iters = PqTrainIters),
        () => Similarity.bruteForceTopK(emb, qs, "vec_id", "embedding", k = 3)
          .select("query_id", "vec_id").localCheckpoint()))
      val cb = cbAny.asInstanceOf[org.apache.spark.sql.DataFrame]
      val brute = bruteAny.asInstanceOf[org.apache.spark.sql.DataFrame]
      val adc = Similarity.pqAdcSearch(
          Similarity.pqEncodeWith(emb, cb, "vec_id", "embedding", dims = 64, m = 8),
          cb, qs, "vec_id", "embedding", dims = 64, m = 8, k = 3)
        .select("query_id", "vec_id")
      val hits = brute.join(adc, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      qs.select(col("vec_id").as("query_id")).join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          round(coalesce(col("h"), lit(0)).cast("double") / 3.0, 6).as("recall_at_3"))
        .orderBy("query_id")
    }),

    // Stand-in-codebook recall audit — the baseline q_pq_recall_trained
    // must beat (same ADC dataflow, lowest-id codebooks).
    "q_pq_recall" -> ((s, dir) => {
      import graft.functions.Similarity
      val emb = pq(s, dir, "embeddings")
      val qs = emb.filter(col("vec_id") < 5)
      val brute = Similarity.bruteForceTopK(
        emb, qs, "vec_id", "embedding", k = 3)
        .select("query_id", "vec_id")
      val adc = Similarity.pqAdcTopK(
          emb, qs, "vec_id", "embedding", dims = 64, m = 8, ksub = 16, k = 3)
        .select("query_id", "vec_id")
      val hits = brute.join(adc, Seq("query_id", "vec_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      qs.select(col("vec_id").as("query_id")).join(hits, Seq("query_id"), "left")
        .select(col("query_id"),
          round(coalesce(col("h"), lit(0)).cast("double") / 3.0, 6).as("recall_at_3"))
        .orderBy("query_id")
    }),

    // The standard compressed-index production path: ADC shortlist (k'=10,
    // byte codes only) -> exact cosine rerank of the shortlist (k=3).
    // Exact vectors are fetched for 10 rows per query, not the corpus.
    "q_pq_rerank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = pq(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      val short = graft.functions.Similarity.pqAdcTopK(
        emb, queries, "vec_id", "embedding", dims = 64, m = 8, ksub = 16, k = 10)
        .select("query_id", "vec_id")
      val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      short
        .join(emb.select(col("vec_id"), col("embedding").as("cv")), Seq("vec_id"))
        .join(broadcast(q), Seq("query_id"))
        .withColumn("cos_sim", graft.functions.Similarity.cosineExpr("qv", "cv"))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("vec_id").asc))
          .cast("long"))
        .filter(col("rnk") <= 3)
        .select("query_id", "vec_id", "cos_sim", "rnk")
        .orderBy("query_id", "rnk")
    }),

    // SemDeDup-style semantic dedup: coarse-quantizer cluster assignment
    // (broadcast argmax, no corpus shuffle) + within-cluster cosine pairs —
    // the cluster-then-compare shape that replaces the O(N²) semantic join
    "q_semantic_dedup" -> ((s, dir) =>
      graft.functions.Similarity.semanticDedupPairs(
        pq(s, dir, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, nlist = 16)
        .orderBy("id_a", "id_b")),

    // Fixed-token-budget chunking with overlap (training-sequence prep) —
    // fully narrow: tokenize + per-row chunk-range explode, zero shuffles
    "q_doc_chunks" -> ((s, dir) =>
      graft.functions.TextAnalysis.chunkDocs(
        pq(s, dir, "documents"), "doc_id", "text", chunkTokens = 64, overlap = 16)
        .orderBy("doc_id", "chunk_id")),

    // HTML main-content extraction: pages are synthesized deterministically
    // from the documents table (the corpus has no raw-HTML column), so the
    // operator under test is the strip/decode/collapse itself
    "q_html_extract" -> ((s, dir) => {
      val pages = pq(s, dir, "documents").select(col("doc_id"),
        concat(lit("<html><head><title>"), col("source"),
          lit("</title><style type=\"text/css\">p { color: red }</style>"),
          lit("</head><body><script>var n = 1 &amp;&amp; 2;</script><p>"),
          col("text"),
          lit(" &amp; more &lt;tags&gt;</p><div class=\"nav\">home | about"),
          lit("</div></body></html>")).as("html"))
      pages.select(col("doc_id"),
        graft.functions.TextAnalysis.stripHtml(col("html")).as("content"),
        graft.functions.TextAnalysis.htmlRetainedFrac(col("html"))
          .as("retained_frac"))
        .orderBy("doc_id")
    }),

    // Crawl-frontier URL dedup: raw URLs synthesized with the classic
    // variant noise (case, default port, trailing slash, tracking params,
    // fragment); canonicalization collapses them and the dedup is one
    // hash aggregation on the canonical key
    "q_url_dedup" -> ((s, dir) => {
      val urls = pq(s, dir, "documents").select(col("doc_id"),
        concat(lit("HTTPS://"), upper(col("source")), lit(".Example.COM"),
          when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit("")),
          lit("/Docs/"), (col("doc_id") % 40).cast("string"),
          when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
          lit("?utm_source=feed&page="), (col("doc_id") % 5).cast("string"),
          lit("&utm_campaign=sync&gclid=g1"),
          when(col("doc_id") % 4 === 0, lit("#section-2")).otherwise(lit("")))
          .as("url"))
      urls.select(col("doc_id"), col("url"),
        graft.functions.TextAnalysis.canonicalizeUrl(col("url"))
          .as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).cast("long").as("n_urls"),
          countDistinct(col("url")).cast("long").as("n_raw_variants"),
          min("doc_id").cast("long").as("keep_doc_id"))
        .orderBy("canonical_url")
    }),

    // BPE tokenizer-training inner loop: corpus-wide adjacent-char-pair
    // frequencies weighted by word frequency (two bounded shuffles:
    // vocab-sized then alphabet²-sized)
    "q_bpe_pairs" -> ((s, dir) =>
      graft.functions.TextAnalysis.bpePairCounts(
        pq(s, dir, "documents"), "text", topK = 50)),

    // Full BPE tokenizer TRAINING (the merge loop bpePairCounts is one
    // iteration of): 8 ordered merges learned from the weighted
    // vocabulary. The DuckDB oracle replays every round exactly — greedy
    // left-to-right non-overlapping pair merging is string replace() on a
    // double-space-separated symbol string, and the argmax tie-break
    // (count desc, then smallest pair) is an ORDER BY — so the previously
    // spec-only tokenizer family gains hash-level pinning.
    "q_bpe_train" -> ((s, dir) =>
      graft.functions.TextAnalysis.bpeTrainMerges(
        pq(s, dir, "documents"), "text", numMerges = 8)
        .orderBy("rank")),

    // Encode-side consumer: per-document token counts under the SAME 8
    // learned merges (the real-tokenizer sizing for token budgets /
    // packing). The merge table is numMerges rows — the collect is
    // merge-bounded, never corpus-bounded.
    "q_bpe_encode" -> ((s, dir) => {
      import s.implicits._
      val d = pq(s, dir, "documents")
      val merges = graft.functions.TextAnalysis
        .bpeTrainMerges(d, "text", numMerges = 8)
        .orderBy("rank").select("left", "right")
        .as[(String, String)].collect().toSeq
      graft.functions.TextAnalysis.bpeTokenCounts(d, "doc_id", "text", merges)
        .orderBy("doc_id")
    }),

    // Kneser-Ney smoothed bigram LM scoring — the smoothing family the
    // real CCNet filter's KenLM model uses: absolute discounting with
    // backoff to the CONTINUATION distribution (distinct-context counts),
    // not the frequency distribution the interpolated scorers above use
    "q_kn_bigram" -> ((s, dir) =>
      graft.functions.TextAnalysis.knBigramLogProb(
        pq(s, dir, "documents"), "doc_id", "text", discount = 0.75)
        .orderBy("doc_id")),

    // The recursive KN chain at order 3: discounted trigram counts over
    // a CONTINUATION-count bigram level over the continuation unigram —
    // the structure KenLM runs at order 5; second tokens fall back to
    // count-based bigram KN, first tokens to MLE unigram
    "q_kn_trigram" -> ((s, dir) =>
      graft.functions.TextAnalysis.knTrigramLogProb(
        pq(s, dir, "documents"), "doc_id", "text", discount = 0.75)
        .orderBy("doc_id")),

    // MODIFIED Kneser-Ney — KenLM's default smoothing (what the literal
    // CCNet filter computes): three count-bucketed discounts D1/D2/D3+
    // estimated from the corpus's count-of-count statistics; degenerate
    // corpora fail loudly like KenLM instead of dividing by zero
    // fallbackDiscounts = KenLM's --discount_fallback default: sf0.1's
    // dense synthetic corpus has NO count-1/2 bigram types (every bigram
    // repeats), the exact degenerate case the flag exists for; sf0.01
    // calibrates and uses the estimated discounts
    "q_mkn_bigram" -> ((s, dir) =>
      graft.functions.TextAnalysis.mknBigramLogProb(
        pq(s, dir, "documents"), "doc_id", "text",
        fallbackDiscounts = Some((0.5, 1.0, 1.5)))
        .orderBy("doc_id")),

    // CCNet perplexity bucketing over the Kneser-Ney score: per-LANGUAGE
    // head/middle/tail terciles, keep head+middle. The per-language
    // ranking runs the two-phase histogram rank (a dominant language
    // would single-reduce a per-key window — the mixer lesson applied to
    // the filter side); tile assignment is per-row arithmetic equal to
    // SQL ntile(3)
    "q_ppl_buckets" -> ((s, dir) =>
      pplStagesShared(s, dir).orderBy("doc_id")),

    // Deterministic global corpus shuffle: every doc's training position
    // (content-hash order, no RNG) + the (shard, pos) layout a sharded
    // reader consumes. Global rank via the two-phase histogram (constant
    // key) — the whole corpus never sorts on one reducer
    "q_corpus_shuffle" -> ((s, dir) =>
      graft.functions.Sampling.corpusShuffle(
        pq(s, dir, "documents").select("doc_id", "source"),
        "doc_id", docsPerShard = 64L)
        .orderBy("doc_id")),

    // Curriculum ordering: easy -> hard by PERPLEXITY stage (the KN
    // tercile from q_ppl_buckets), hash-shuffled within each stage,
    // with the global seq/shard/pos layout. seq == row_number over
    // (stage, md5, id) — computed via per-stage two-phase rank + a
    // broadcast stage-offset join
    "q_curriculum_order" -> ((s, dir) => {
      // The stage column is the whole KN perplexity chain — read the
      // SHARED checkpointed tercile frame (q_ppl_buckets reports the
      // same one); curriculumOrder references its input three times
      // (stage masses + histogram + rank), all served by the checkpoint.
      val stages = pplStagesShared(s, dir)
        .select(col("doc_id"), col("tile").as("stage"))
      graft.functions.Sampling.curriculumOrder(
        stages, "doc_id", "stage", docsPerShard = 64L)
        .orderBy("doc_id")
    }),

    // Frozen-model KN scoring with OOV semantics — the REAL CCNet
    // posture (train the LM on the clean split, score everything else):
    // train on doc_id%5!=0, score the held-out 20% (unseen words/
    // contexts route through the documented continuation-backoff OOV
    // branches)
    "q_kn_score_holdout" -> ((s, dir) =>
      // The holdout score frame (cache_lm2h_scores) — this inline
      // cross-score and the persisted serve share one oracle SQL
      // verbatim; score==crossScore is spec-pinned.
      lmhScoresShared(s, dir, 2).orderBy("doc_id")),

    // The PERSISTED twin: build the model tables once, score the same
    // held-out split from the store — shares q_kn_score_holdout's oracle
    // SQL verbatim (score reads ONLY the vocabulary-bounded model
    // tables; the training corpus is never rescanned at serve time).
    // The store build is the timed cache_lm2h line; the serve runs here,
    // from the store, so the oracle hash pins score(store)==crossScore.
    "q_kn_persisted" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      graft.functions.LmIndex.score(2, lm2hSharedStore(s, dir), "lm",
        d.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // The LM "dataset card": per-source token-weighted mean KN logprob —
    // the per-slice fluency panel a corpus report carries next to the
    // length/quality profiles. Weighted mean recovers the per-doc
    // fixed-point longs exactly (logprob is on the 1e-6 grid), so the
    // aggregation is order-independent in both engines
    "q_ppl_by_source" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val scores = graft.functions.TextAnalysis.knBigramLogProb(
        d, "doc_id", "text")
      d.select(col("doc_id"), col("source")).join(scores, Seq("doc_id"))
        .withColumn("lp_fp", round(col("logprob") * 1e6, 0).cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("n_tokens")).cast("long").as("n_tokens"),
          sum(col("lp_fp") * col("n_tokens")).cast("long").as("w_sum"))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("w_sum").cast("double") / col("n_tokens").cast("double")
            / 1e6, 6).as("mean_logprob"))
        .orderBy("source")
    }),

    // The probed LM serve: score a SMALL batch (4% of doc ids) against
    // the persisted model with the batch's words pushed down as static
    // IN filters on every model table — serve cost is the probed slices,
    // never the vocabulary; row-identical to the full-scan score path
    "q_kn_probed" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      graft.functions.LmIndex.scoreBatch(
        2, lm2hSharedStore(s, dir), "lm", d.filter(col("doc_id") % 25 === 0),
        "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Incremental LM maintenance, append side: build on 40% of the
    // corpus, APPEND the next 40% (count merge, no retrain), score the
    // held-out 20% — must equal training on the union, so it shares
    // q_kn_score_holdout's oracle SQL verbatim
    "q_kn_append" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val root = java.nio.file.Files.createTempDirectory("graft_lm_").toString
      val store = new graft.io.ParquetTableStore(s, root)
      // §2.6 overlap drill (the q_kn5_append shape at order 2): delta
      // base ∥ build writes, score ∥ merge writes; physical append and
      // the append==rebuild oracle unchanged.
      graft.functions.LmIndex.appendDrill(2, store, "lm",
        d.filter(col("doc_id") % 5 isin (1, 2)),
        d.filter(col("doc_id") % 5 isin (3, 4)),
        d.filter(col("doc_id") % 5 === 0), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Delete side (GDPR erasure): build on 80%, DELETE half of it
    // (count subtraction, zero rows drop), score the held-out 20% —
    // must equal rebuilding without the deleted documents
    "q_kn_delete" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      // Clone the shared 80%-split model (file copy, no rebuild), then
      // mutate the PRIVATE copy — the deletion contract under test is
      // the count subtraction, not the build.
      val root = java.nio.file.Files.createTempDirectory("graft_lm_").toString
      val store = lm2hSharedStore(s, dir).cloneTo(root)
      // §2.6: the held-out score reads only the checkpointed merged
      // counts (row-identical to the swapped tables), so it overlaps
      // the merge's five staged writes; the physical delete unchanged.
      graft.functions.LmIndex.deleteDocsScored(
        2, store, "lm", d.filter(col("doc_id") % 5 isin (3, 4)), "doc_id", "text",
        scoreDocs = d.filter(col("doc_id") % 5 === 0))
        .orderBy("doc_id")
    }),

    // PERSISTED ORDER-3 model — the train-offline/score-online split at
    // the recursion depth the real CCNet-style deployments freeze (KenLM
    // runs order 5; this family reaches 3): build the NINE model tables
    // once, serve the corpus from the store. In-corpus no OOV branch
    // fires, so it shares q_kn_trigram's oracle SQL verbatim — the
    // persisted serve must be row-identical to the inline recursion.
    "q_kn3_persisted" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val store = lmSharedStore(s, dir, 3)
      graft.functions.LmIndex.score(3, store, "lm3", d, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // The order-3 probed serve: a 4% batch scored against the persisted
    // model with every table read pruned to the batch's vocabulary
    // (IN pushdown under the probeMaxWords ceiling, broadcast semi-join
    // past it). Scoring in-corpus, so the oracle is the trigram chain
    // with the batch predicate on the SCORED side only.
    "q_kn3_probed" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val store = lmSharedStore(s, dir, 3)
      graft.functions.LmIndex.scoreBatch(
        3, store, "lm3", d.filter(col("doc_id") % 25 === 0), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // FULL modified Kneser-Ney at order 3 — the literal KenLM shape:
    // the order-3 recursion with D1/D2/D3+ estimated PER LEVEL from
    // that level's own count-of-counts (trigram, continuation-bigram,
    // and the second-token bigram fallback each calibrate separately).
    // Same --discount_fallback posture per degenerate level.
    "q_mkn_trigram" -> ((s, dir) =>
      graft.functions.TextAnalysis.mknTrigramLogProb(
        pq(s, dir, "documents"), "doc_id", "text",
        fallbackDiscounts = Some((0.5, 1.0, 1.5)))
        .orderBy("doc_id")),

    // The persisted twin: the same smoothing served from the order-3
    // model — per-level discounts re-estimated from the STORED tallies
    // (stats t1..t4/m1..m4/n1..n4; per-context buckets in the widened
    // ctx/ctx3/mctx tables), no corpus rescan. Shares q_mkn_trigram's
    // oracle SQL verbatim (in-corpus row-identity).
    "q_mkn3_persisted" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val store = lmSharedStore(s, dir, 3)
      graft.functions.LmIndex.score(3, store, "lm3", d, "doc_id", "text",
        graft.functions.LmIndex.Mkn(Some((0.5, 1.0, 1.5))))
        .orderBy("doc_id")
    }),

    // Order-3 frozen-model scoring with OOV semantics — the CCNet
    // posture at recursion depth 3: train on the 80% split, score the
    // held-out 20% (unseen words/pairs/triples route through the
    // documented backoff recipe at every level). Oracle-pins what the
    // spec's hand fixture pins pointwise.
    "q_kn3_holdout" -> ((s, dir) =>
      // The holdout score frame (cache_lm3h_scores): same computation
      // as crossScore(3, train80, heldout) — frames derive from the
      // shared 80%-split base (bit-identical, spec-pinned) whose
      // checkpoint also feeds the persisted twin's build.
      lmhScoresShared(s, dir, 3).orderBy("doc_id")),

    // The persisted twin under OOV: build the order-3 model on the split
    // from the shared base (the physical nine-table store work stays
    // inside this timed closure), serve the held-out docs from that
    // store — shares q_kn3_holdout's oracle SQL verbatim (the store
    // roundtrip must not perturb a single count; also pinned under OOV
    // by LmHoldoutShareSpec).
    "q_kn3_persisted_holdout" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_lm3_").toString
      val store = new graft.io.ParquetTableStore(s, root)
      graft.functions.LmIndex.buildFromBase(
        3, store, "lm3", lmSharedBase(s, dir, "b3h80"))
      graft.functions.LmIndex.score(3, store, "lm3",
        pq(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text")
        .orderBy("doc_id")
    }),

    // PERSISTED modified-KN serve — the KenLM-default smoothing scored
    // from the same order-3 model: D1/D2/D3+ re-estimated at serve time
    // from the STORED count-of-count tallies (stats n1..n4, per-context
    // buckets in ctx), never rescanning any corpus. Shares
    // q_mkn_bigram's oracle SQL verbatim (in-corpus row-identity), same
    // --discount_fallback on this templated corpus.
    "q_mkn_persisted" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val store = lmSharedStore(s, dir, 3)
      graft.functions.LmIndex.score(2, store, "lm3", d, "doc_id", "text",
        graft.functions.LmIndex.Mkn(Some((0.5, 1.0, 1.5))))
        .orderBy("doc_id")
    }),

    // The PROBED modified-KN serves (round-16 task 1 — modified KN is
    // the smoothing the CCNet deployment actually gates with, so its
    // batch path gets the same regime-switched pruning the plain-KN
    // family has): a 4% batch scored against the persisted order-3 model
    // with every bigram-level (order 2) / all-eight-keyed (order 3)
    // table read pruned to the batch's vocabulary. Scoring in-corpus,
    // so each shares its inline twin's oracle SQL with the batch
    // predicate on the SCORED side only (the q_kn3_probed pattern).
    "q_mkn_probed" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val store = lmSharedStore(s, dir, 3)
      graft.functions.LmIndex.scoreBatch(
        2, store, "lm3", d.filter(col("doc_id") % 25 === 0), "doc_id", "text",
        graft.functions.LmIndex.Mkn(Some((0.5, 1.0, 1.5))))
        .orderBy("doc_id")
    }),

    "q_mkn3_probed" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val store = lmSharedStore(s, dir, 3)
      graft.functions.LmIndex.scoreBatch(
        3, store, "lm3", d.filter(col("doc_id") % 25 === 0), "doc_id", "text",
        graft.functions.LmIndex.Mkn(Some((0.5, 1.0, 1.5))))
        .orderBy("doc_id")
    }),

    // PERSISTED ORDER-5 model (round-16 task 2 — the literal CCNet
    // posture: Wenzek et al. 2020 serve a frozen order-5 KenLM): build
    // the SEVENTEEN model tables once from one base-counts corpus pass,
    // serve the corpus from the store. In-corpus no OOV branch fires,
    // so the serve must be row-identical to the order-5 chain oracle.
    "q_kn5_persisted" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val store = lmSharedStore(s, dir, 5)
      graft.functions.LmIndex.score(5, store, "lm5", d, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // The order-5 probed serve (q_kn3_probed one model family up): all
    // sixteen keyed table reads prune to the 4% batch's vocabulary.
    "q_kn5_probed" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val store = lmSharedStore(s, dir, 5)
      graft.functions.LmIndex.scoreBatch(
        5, store, "lm5", d.filter(col("doc_id") % 25 === 0), "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Order-5 frozen-model scoring with OOV semantics: train on the 80%
    // split, score the held-out 20% — unseen words/pairs/.../5-grams
    // route through the documented backoff recipe at every level.
    "q_kn5_holdout" -> ((s, dir) =>
      // The holdout score frame (cache_lm5h_scores): crossScore(5,
      // train80, heldout) over the shared 80%-split base, whose
      // checkpoint also feeds the persisted twin's build.
      lmhScoresShared(s, dir, 5).orderBy("doc_id")),

    // The persisted twin under OOV — shares q_kn5_holdout's oracle SQL
    // verbatim (the seventeen-table store roundtrip must not perturb a
    // single count; the physical build from the shared base and the
    // serve from that store both stay inside this timed closure, and
    // LmHoldoutShareSpec pins store serve == base-frame score under OOV).
    "q_kn5_persisted_holdout" -> ((s, dir) => {
      val root = java.nio.file.Files.createTempDirectory("graft_lm5_").toString
      val store = new graft.io.ParquetTableStore(s, root)
      graft.functions.LmIndex.buildFromBase(
        5, store, "lm5", lmSharedBase(s, dir, "b5h80"))
      graft.functions.LmIndex.score(5, store, "lm5",
        pq(s, dir, "documents").filter(col("doc_id") % 5 === 0),
        "doc_id", "text")
        .orderBy("doc_id")
    }),

    // FULL modified Kneser-Ney at ORDER 5 from the same order-5 model —
    // the literal KenLM serve shape: seven levels, each with its own
    // D1/D2/D3+ estimated from that level's stored count-of-counts
    // (all seven calibrate on this corpus — the ESTIMATED branch is
    // what hash-matches, not the fallback).
    "q_mkn5_persisted" -> ((s, dir) =>
      mkn5ScoresShared(s, dir).orderBy("doc_id")),

    // The order-5 probed modified-KN serve: sixteen keyed table reads
    // pruned to the 4% batch's vocabulary, seven discount levels from
    // the unpruned stats — shares q_mkn5_persisted's oracle chain with
    // the batch predicate on the SCORED side only.
    "q_mkn5_probed" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val store = lmSharedStore(s, dir, 5)
      graft.functions.LmIndex.scoreBatch(
        5, store, "lm5", d.filter(col("doc_id") % 25 === 0), "doc_id", "text",
        graft.functions.LmIndex.Mkn(Some((0.5, 1.0, 1.5))))
        .orderBy("doc_id")
    }),

    // COUNT-PRUNED order-5 model (round-17 task 1 — the KenLM --prune
    // analog every deployed CCNet gate model runs): singletons drop at
    // every key width (pruneMin 2,2,2,2 — at sf0.01 that prunes 10
    // bigrams, ~9.4k trigrams, ~22.7k 4-grams, ~22.9k 5-grams), their
    // mass folds into the context tables' pm columns, and the serve's
    // λ carries it so every level stays a proper distribution.
    // Scoring the corpus IN-CORPUS against the pruned model makes the
    // pruned branches fire for real (a join miss here IS a pruned
    // event) — the DuckDB chain replays the pruned build end to end.
    "q_kn5_pruned" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val store = lm5PrunedSharedStore(s, dir)
      graft.functions.LmIndex.score(5, store, "lm5", d, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // The pruned model under FULL modified KN: all seven levels'
    // discounts calibrate on the FULL count-of-counts (calibration
    // precedes pruning — KenLM's order), bucket tallies count
    // survivors, D(0) = 0 covers pruned events.
    "q_mkn5_pruned" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val store = lm5PrunedSharedStore(s, dir)
      graft.functions.LmIndex.score(5, store, "lm5", d, "doc_id", "text",
        graft.functions.LmIndex.Mkn(Some((0.5, 1.0, 1.5))))
        .orderBy("doc_id")
    }),

    // The LITERAL CCNet gate composed end to end (round-17 task 2 —
    // Wenzek et al. 2020 §4.3): content language-ID -> score against
    // the PERSISTED order-5 modified-KN model -> per-detected-language
    // perplexity terciles -> keep head+middle. Every piece is
    // individually oracle-pinned; this row pins the COMPOSITION a user
    // deploys (one hash-matched frame sharing the mkn5 chain and the
    // ppl-buckets tiling SQL).
    "q_ccnet_gate" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      // The gate composition over the SHARED order-5 modified-KN frame
      // (q_mkn5_persisted reports the same one) — langid + join +
      // per-language terciles are the only per-query work.
      graft.functions.LmIndex.ccnetGateFrom(
        mkn5ScoresShared(s, dir), d, "doc_id", "text", tiles = 3)
        .orderBy("doc_id")
    }),

    // VOCABULARY-CAPPED order-5 model (round-17 task 3 — the LM-build
    // envelope): the top-20 words by frequency survive (ties by word
    // ascending), the other 11 of sf0.01's 31-word vocabulary map to
    // the reserved <unk> at tokenize time, and the RAW corpus then
    // scores against the capped model — capped-out words are genuine
    // OOVs and route through the reserved-mass recipe. The DuckDB
    // chain replays the top-K selection, the mapping, and the build.
    "q_kn5_vocab" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val root = java.nio.file.Files.createTempDirectory("graft_lm5_").toString
      val store = new graft.io.ParquetTableStore(s, root)
      // Deliberately NOT derived from the shared full-corpus base: a
      // capBase5 variant (map the base's five key columns through the
      // top-K membership, re-aggregate — bit-identical counts, it was
      // spec-pinned) measured FLAT at sf0.1 (~9.0 vs 8.6 s warm-solo,
      // ambient-normalized): on this corpus shape the base is
      // near-corpus-sized, so re-aggregating it costs what the corpus
      // pass costs, and writes+score dominate the query. Reverted to
      // the direct capped build (r17 opt round 1). Round 18 instead
      // overlaps the score with the seventeen staged writes (§2.6):
      // the score reads the capped base-derived frames, bit-identical
      // to the written tables (spec-pinned).
      graft.functions.LmIndex.buildScored(5, store, "lm5", d, "doc_id", "text",
        docs = d, maxVocab = 20L)
        .orderBy("doc_id")
    }),

    // Order-5 maintenance ORACLE-PINNED: build order 5 on two thirds of the
    // corpus, append the remaining third, score everything — the
    // oracle RETRAINS from scratch on the full corpus (the order-5 knOracleSql
    // reads all documents), so a hash match proves append == rebuild on
    // the union through all seventeen tables AND the scoring joins
    // (the q_kn_append convention at order 5).
    "q_kn5_append" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val root = java.nio.file.Files.createTempDirectory("graft_lm5_").toString
      val store = new graft.io.ParquetTableStore(s, root)
      // The drill helper overlaps the two independent-job pairs the
      // sequential build/append/score chain left idle (guide §2.6):
      // the delta's base pass runs with the build's staged writes, and
      // the final score — reading only the checkpointed MERGED counts,
      // row-identical to the swapped tables (spec-pinned) — runs with
      // the merge's seventeen staged writes. The physical append is
      // unchanged (every table staged and swapped); the oracle still
      // retrains from scratch on the full corpus, so the hash match
      // keeps pinning append == rebuild.
      graft.functions.LmIndex.appendDrill(5, store, "lm5",
        d.filter(col("doc_id") % 3 =!= 0),
        d.filter(col("doc_id") % 3 === 0), d, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // q_kn3_persisted under the POSITIONAL-JOIN scorer mode (round-16
    // task 4): graft.lm.positionalJoin replaces every per-doc lag
    // window with one (doc_id, pos)-hash-aggregated shifted-copies
    // exchange — the executable giant-document mitigation. The conf is
    // read at PLAN-BUILD time and lives in a CLONED session
    // (newSession: same SparkContext and catalog, ISOLATED conf), so
    // the mode is structurally confined to the plans built here — a
    // concurrent query construction on the shared session can never
    // observe it (the r16 verdict's conf-leak note). Shares
    // q_kn3_persisted's oracle SQL verbatim (the mode must be
    // row-identical, and the driver's hash compare proves it on the
    // full corpus, not just the spec fixture).
    "q_kn3_positional" -> ((s, dir) => {
      val ps = s.newSession()
      ps.conf.set("graft.lm.positionalJoin", "true")
      val d = pq(ps, dir, "documents")
      val root = java.nio.file.Files.createTempDirectory("graft_lm3_").toString
      val store = new graft.io.ParquetTableStore(ps, root)
      // §2.6: the score (positional-mode lag frame, like the build's)
      // reads the base-derived frames — bit-identical to the written
      // tables — so it overlaps the nine staged writes.
      graft.functions.LmIndex.buildScored(3, store, "lm3", d, "doc_id", "text",
        docs = d)
        .orderBy("doc_id")
    }),

    // WordPiece-objective tokenizer training on the same corpus as
    // q_bpe_train: likelihood-gain argmax count(l,r)/(count(l)·count(r))
    // instead of frequency — the two families diverge from merge 0
    "q_wordpiece_train" -> ((s, dir) =>
      graft.functions.TextAnalysis.wordpieceTrainMerges(
        pq(s, dir, "documents"), "text", numMerges = 8, minPairCount = 2L)
        .orderBy("rank")),

    // Encode-side consumer: per-document token counts under the 8
    // learned WordPiece merges (merge-replay inference, the same encode
    // rule as BPE over the likelihood-ranked merge list)
    "q_wordpiece_encode" -> ((s, dir) => {
      import s.implicits._
      val d = pq(s, dir, "documents")
      val merges = graft.functions.TextAnalysis
        .wordpieceTrainMerges(d, "text", numMerges = 8, minPairCount = 2L)
        .orderBy("rank").select("left", "right")
        .as[(String, String)].collect().toSeq
      graft.functions.TextAnalysis
        .bpeTokenCounts(d, "doc_id", "text", merges, outCol = "wp_tokens")
        .orderBy("doc_id")
    }),

    // The tokenizer-export vocabulary artifact: every word segmented
    // under the 8 learned BPE merges (single-char words included — they
    // segment to themselves), symbols counted weighted by word frequency
    // — the training-frequency table an encoder ships beside the merges
    "q_bpe_vocab" -> ((s, dir) => {
      import s.implicits._
      val d = pq(s, dir, "documents")
      val merges = graft.functions.TextAnalysis
        .bpeTrainMerges(d, "text", numMerges = 8)
        .orderBy("rank").select("left", "right")
        .as[(String, String)].collect().toSeq
      graft.functions.TextAnalysis.tokenizerVocab(d, "text", merges)
        .orderBy(col("sym_count").desc, col("symbol"))
    }),

    // The same export artifact under the WordPiece-objective merges —
    // tokenizerVocab is merge-list-agnostic, pinned here at oracle level
    "q_wordpiece_vocab" -> ((s, dir) => {
      import s.implicits._
      val d = pq(s, dir, "documents")
      val merges = graft.functions.TextAnalysis
        .wordpieceTrainMerges(d, "text", numMerges = 8, minPairCount = 2L)
        .orderBy("rank").select("left", "right")
        .as[(String, String)].collect().toSeq
      graft.functions.TextAnalysis.tokenizerVocab(d, "text", merges)
        .orderBy(col("sym_count").desc, col("symbol"))
    }),

    // Paragraph-level cross-doc dedup signal: fraction of each document's
    // 32-token paragraphs that appear verbatim in other documents
    "q_paragraph_dup" -> ((s, dir) =>
      graft.functions.TextAnalysis.paragraphDupStats(
        pq(s, dir, "documents"), "doc_id", "text", chunkTokens = 32)
        .orderBy("doc_id")),

    // Incremental-value scoring: fraction of each document's 4-grams that
    // first appear in it (vs any earlier doc id)
    "q_ngram_novelty" -> ((s, dir) =>
      graft.functions.TextAnalysis.ngramNovelty(
        pq(s, dir, "documents"), "doc_id", "text", n = 4)
        .orderBy("doc_id")),

    // Duplicate-aware sampling weights: 1/cluster_size over the near-dup
    // clustering, so each duplicate family carries unit sampling mass
    // (pairs frame shared with q_dedup_clusters via guardedPairs)
    "q_dedup_weights" -> ((s, dir) =>
      graft.functions.Dedup.clusterWeights(
        pq(s, dir, "documents"), "doc_id", guardedPairs(s, dir), iterations = 5)
        .orderBy("doc_id")),

    // Deterministic content-hash holdout split (~1.2% validation):
    // assignment is stable under corpus growth — no doc ever migrates
    "q_holdout_split" -> ((s, dir) =>
      graft.functions.TextAnalysis.holdoutSplitCounts(
        pq(s, dir, "documents"), "source", "text", validHexPrefixBelow = "03")
        .orderBy("source")),

    // Best-representative survivorship: per near-dup cluster keep the
    // highest-quality copy (n_chars proxy; ties -> lowest id), not min-id
    "q_dedup_best_rep" -> ((s, dir) =>
      graft.functions.Dedup.bestRepresentative(
        pq(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", guardedPairs(s, dir), iterations = 5)
        .orderBy("doc_id")),

    // Holdout-split leakage audit: every valid-split doc with a near-dup
    // neighbor in the train split (eval decontamination gate)
    "q_split_leakage" -> ((s, dir) =>
      graft.functions.Dedup.splitLeakage(
        pq(s, dir, "documents"), "doc_id", "text",
        guardedPairs(s, dir), validHexPrefixBelow = "03")
        .orderBy("doc_id")),

    // CCNet-style paragraph dedup with reconstruction: keep each 32-token
    // paragraph only at its globally first (doc_id, chunk_id) occurrence,
    // reassemble surviving paragraphs in order
    "q_paragraph_dedup_text" -> ((s, dir) =>
      graft.functions.TextAnalysis.dedupParagraphs(
        pq(s, dir, "documents"), "doc_id", "text", chunkTokens = 32)
        .orderBy("doc_id")),

    // Labeled-vs-detected language mismatch gate (drop mislabeled crawls
    // before language-balanced sampling)
    "q_lang_mismatch" -> ((s, dir) =>
      graft.functions.TextAnalysis.langMismatch(
        pq(s, dir, "documents"), "doc_id", "text", "lang")
        .orderBy("doc_id")),

    // Curation funnel with per-stage drop attribution: exact dedup ->
    // near-dup best-rep -> lang gate -> quality gate (monitoring report)
    "q_curation_funnel" -> ((s, dir) =>
      graft.pipeline.Curation.funnel(
        pq(s, dir, "documents"), "doc_id", "text", "lang", "n_chars",
        guardedPairs(s, dir), qualityMin = 0.6)
        .orderBy("stage_order")),

    // The funnel's actionable output: doc ids surviving all four gates —
    // what ships to tokenization (count always equals funnel's final kept)
    "q_curation_kept" -> ((s, dir) =>
      graft.pipeline.Curation.keptSet(
        pq(s, dir, "documents"), "doc_id", "text", "lang", "n_chars",
        guardedPairs(s, dir), qualityMin = 0.6)
        .orderBy("doc_id")),

    // Embedding-table QA audit: per-label zero-norm / wrong-dim counts and
    // norm distribution (the gate before any ANN / semantic-dedup pass)
    "q_embedding_audit" -> ((s, dir) =>
      graft.functions.Similarity.embeddingAudit(
        pq(s, dir, "embeddings"), "embedding", "label", expectedDim = 64)
        .orderBy("label")),

    // Duplicate-family size histogram over the near-dup clustering
    "q_cluster_sizes" -> ((s, dir) =>
      graft.functions.Dedup.clusterSizeHistogram(
        pq(s, dir, "documents").select(col("doc_id")), "doc_id",
        guardedPairs(s, dir), iterations = 5)
        .orderBy("cluster_size")),

    // ENSEMBLE dedup — how production dedup actually runs: the pair frames
    // from independent signals (lexical MinHash-LSH + bitwise SimHash)
    // union into ONE edge set, one connected-components pass, min-id
    // survivorship. A pair either signal finds merges the family; neither
    // signal's blind spot (LSH: low-jaccard bit-level dups; SimHash:
    // high-jaccard long docs diluting the fingerprint) survives the union.
    "q_dedup_ensemble" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      val jac = guardedPairs(s, dir).select("id_a", "id_b")
      // Width-adaptive simhash side: 32-bit under the band-saturation
      // threshold (count-derived, mirrored by the oracle's scnt guard),
      // the 64-bit escape beyond — at ×100 the hardcoded 32-bit width
      // was the audit's steepest ratio (0.26× linear).
      val sim = graft.functions.Dedup.simhashPairsAdaptiveFrom(docs,
        sim32Shared(s, dir), "doc_id", "text",
        maxHamming = 1).select("id_a", "id_b")
      val allp = jac.unionByName(sim).distinct()
      val labels = graft.functions.Dedup.clusterLabels(
        docs.select("doc_id"), "doc_id", allp, iterations = 5)
      val sizes = labels.groupBy("cluster_id")
        .agg(count(lit(1)).cast("long").as("cluster_size"))
      labels.join(sizes, "cluster_id")
        .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
          (col("doc_id") === col("cluster_id")).as("is_kept"))
        .orderBy("doc_id")
    }),

    // Similarity-threshold calibration: cosine histogram over two
    // deterministic hash-sampled vertex sets (bounded pairs at any N)
    "q_sim_histogram" -> ((s, dir) =>
      graft.functions.Similarity.simHistogram(
        pq(s, dir, "embeddings"), "vec_id", "embedding",
        rateA = 0.2, rateB = 0.2)
        .orderBy("bucket")),

    // Cluster-balanced diversity sampling: nearest-centroid cells, at most
    // 20 kept per cell in deterministic hash order
    "q_diverse_sample" -> ((s, dir) =>
      graft.functions.Similarity.clusterBalancedSample(
        pq(s, dir, "embeddings"), "vec_id", "embedding",
        nlist = 16, capPerCell = 20)
        .orderBy("vec_id")),

    // Asymmetric containment dedup: small docs mostly embedded in larger
    // ones (jaccard-invisible when sizes differ widely)
    "q_dedup_containment" -> ((s, dir) =>
      graft.functions.Dedup.containmentPairs(
        pq(s, dir, "documents"), "doc_id", "text", n = 4, threshold = 0.9)
        .orderBy("contained_id", "container_id")),

    // Triangle counts over the near-dup graph (degree-ordered orientation
    // bounds the wedge join on hub vertices): a vertex in many triangles
    // sits in a DENSE duplicate family — stronger evidence than pair count
    "q_dedup_triangles" -> ((s, dir) =>
      graft.operators.Graph.triangleCounts(guardedPairs(s, dir), "id_a", "id_b")
        .orderBy("node")),

    // Source-authority ranking: weighted PageRank over the undirected
    // source-duplication graph (edge weight = cross-source near-dup pair
    // count, shared guardedPairs frame). Integer fixed-point power
    // iteration — bit-identical on any partitioning and in the oracle.
    "q_source_rank" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      val upairs = crossSourcePairCounts(s, dir)
      val edges = upairs.select(col("s1").as("src"), col("s2").as("dst"), col("w"))
        .unionByName(upairs.select(col("s2").as("src"), col("s1").as("dst"), col("w")))
      graft.operators.Graph.pageRank(edges, "src", "dst", "w",
          docs.select(col("source")), "source", iterations = 5)
        .select(col("node").as("source"), col("rank_fp"),
          round(col("rank_fp").cast("double") / 1e9, 6).as("rank"))
        .orderBy("source")
    }),

    // Exact corpus heavy hitters via the Misra–Gries candidates + exact
    // recount two-pass plan: the full-vocabulary aggregation never runs —
    // pass 2's shuffle carries only candidate keys (<= capacity)
    "q_heavy_hitters" -> ((s, dir) => {
      val toks = pq(s, dir, "documents")
        .select(explode(graft.functions.TextAnalysis.words(col("text"))).as("w"))
      graft.functions.FreqItems.heavyHitters(toks, "w", capacity = 2048, minFraction = 0.001)
        .orderBy(col("cnt").desc, col("w"))
    }),

    // Deterministic weighted sampling without replacement (Efraimidis-
    // Spirakis content-hash keys): sample docs per language proportional to
    // length — reproducible on any cluster layout
    "q_weighted_sample" -> ((s, dir) =>
      graft.functions.Sampling.weightedSampleTopK(
        pq(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id", "lang", "n_chars", k = 20)
        .select(col("lang"), col("doc_id"), col("n_chars"), col("skey"), col("rnk"))
        .orderBy("lang", "rnk")),

    // Temperature-scaled source mixing (GPT-3/PaLM alpha-sampling): 200
    // docs with per-language quotas ∝ count^0.5 — low-resource languages
    // land ABOVE their raw share, English below (the canonical rebalance).
    "q_temperature_mix" -> ((s, dir) =>
      graft.functions.Sampling.temperatureMix(
        pq(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", n = 200L)
        .select(col("lang"), col("doc_id"), col("quota"), col("rnk"))
        .orderBy("lang", "rnk")),

    // The DOMAIN-cardinality form: same quotas and picks as
    // q_temperature_mix (one oracle SQL pins both) through keyed metadata
    // joins — no whole-frame window, no bucket-offset broadcast — so a
    // 10^6-key mix neither single-reduces nor OOMs an executor.
    "q_temperature_mix_manykeys" -> ((s, dir) =>
      graft.functions.Sampling.temperatureMixManyKeys(
        pq(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", n = 200L)
        .select(col("lang"), col("doc_id"), col("quota"), col("rnk"))
        .orderBy("lang", "rnk")),

    // Largest-remainder completion: quotas sum to EXACTLY n before the
    // population caps (integer-exact decimal/HUGEINT remainder ranking —
    // the opt-in topUp variant; the plain q_temperature_mix keeps the
    // pinned floor recipe).
    "q_temperature_mix_topup" -> ((s, dir) =>
      graft.functions.Sampling.temperatureMix(
        pq(s, dir, "documents").select("doc_id", "lang"),
        "doc_id", "lang", n = 200L, topUp = true)
        .select(col("lang"), col("doc_id"), col("quota"), col("rnk"))
        .orderBy("lang", "rnk")),

    // Epoch-repetition plan (epochs = full passes, rem = partial-pass
    // rows). n = 1000 forces quota > population at the 500-doc sf0.01
    // ORACLE fixture; at larger fixtures the plan degrades gracefully to
    // epochs = 0 (prefix-only) — the repetition law itself is pinned
    // scale-independently by SamplingSpec.
    "q_epoch_mix_plan" -> ((s, dir) =>
      graft.functions.Sampling.epochMixPlan(
        pq(s, dir, "documents").select(col("doc_id"), col("lang")),
        "lang", n = 1000L)
        .select(col("lang"), col("keyn"), col("quota"), col("epochs"), col("rem"))
        .orderBy("lang")),

    // Materialized plan: every doc epochs times + the hash-order first
    // rem docs once more; exactly quota rows per language.
    "q_epoch_mix_expand" -> ((s, dir) =>
      graft.functions.Sampling.epochMixExpand(
        pq(s, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", n = 1000L)
        .select(col("lang"), col("doc_id"), col("epoch"))
        .orderBy("lang", "doc_id", "epoch")),

    // Token-budget variant: quotas in CHARACTER units (n_chars as the
    // token-count stand-in), each language keeping the maximal
    // hash-order prefix that fits its alpha-scaled share of 60k chars.
    "q_temperature_mix_tokens" -> ((s, dir) =>
      graft.functions.Sampling.temperatureMixByWeight(
        pq(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "doc_id", "lang", "n_chars", budget = 60000L)
        .select(col("lang"), col("doc_id"), col("quota"), col("cum"))
        .orderBy("lang", "cum")),

    // The mixing → training handoff, composed end-to-end: epoch-repetition
    // mix (every copy a distinct (doc_id, epoch) identity) → content-hash
    // shard assignment + within-shard pseudo-random order (the q_shard_plan
    // contract, keyed on the COPY so a document's epochs spread across
    // shards) → greedy token-budget packing per shard (the q_token_packing
    // prefix-sum shape). One frame = the manifest a training run consumes:
    // which copy, which shard, which position, which pack. Everything after
    // the mix is narrow + ONE hash-even shuffle by shard.
    "q_mix_shards" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val mixed = graft.functions.Sampling.epochMixExpand(
        pq(s, dir, "documents").select(col("doc_id"), col("lang"), col("text")),
        "doc_id", "lang", n = 1000L)
      val mid = concat(col("doc_id").cast("string"), lit(":"),
        col("epoch").cast("string"))
      val sharded = mixed
        .withColumn("shard", pmod(conv(substring(md5(
          concat(lit("shard:"), mid)), 1, 8), 16, 10).cast("long"), lit(8L)))
        .withColumn("order_key", substring(md5(
          concat(lit("order:"), mid)), 1, 16))
        .withColumn("n_tokens",
          graft.functions.TextAnalysis.wordCount(col("text")).cast("long"))
      val w = Window.partitionBy("shard")
        .orderBy(col("order_key"), col("doc_id"), col("epoch"))
      sharded
        .withColumn("position", row_number().over(w).cast("long"))
        .withColumn("cum_tokens", sum(col("n_tokens"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
        .withColumn("pack_id",
          floor((col("cum_tokens") - col("n_tokens")) / 512.0).cast("long"))
        .select(col("lang"), col("doc_id"), col("epoch"), col("shard"),
          col("position"), col("pack_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy("shard", "position")
    }),

    // NORTH-STAR composition, end to end in ONE plan: raw crawl in,
    // training manifest out. Quality-gate (q_corpus_prep's scorer) →
    // drop near-duplicate losers (the shared LSH-verified pair frame,
    // computed once per corpus) → temperature-mix the SURVIVORS by
    // language (alpha-sampling quotas over post-curation counts — mixing
    // before dedup would let duplicate farms inflate their language's
    // share) → content-hash shard + within-shard pseudo-random order →
    // greedy token-budget packing per shard. One frame = which document,
    // which shard, which position, which pack — the artifact a training
    // run consumes. Everything after the mix is narrow + ONE hash-even
    // shuffle by shard; the corpus is scanned exactly twice (the mixer's
    // histogram + main pass, each through the curation filter with the
    // cached pairs anti-joined) — plan-gated.
    "q_pipeline_manifest" -> ((s, dir) => {
      import graft.functions.{Sampling, TextAnalysis}
      import org.apache.spark.sql.expressions.Window
      val docs = pq(s, dir, "documents")
      val dupLosers = guardedPairs(s, dir)
        .select(col("id_b").as("doc_id")).distinct()
      val survivors = docs
        .withColumn("quality", TextAnalysis.qualityScore(col("text"),
          TextAnalysis.stopwordHits(col("text"), TextAnalysis.stopwords.head._2)))
        .filter(col("quality") >= 0.6)
        .join(dupLosers, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "quality", "text")
      val mixed = Sampling.temperatureMix(survivors, "doc_id", "lang", n = 200L)
      val mid = col("doc_id").cast("string")
      val sharded = mixed
        .withColumn("shard", pmod(conv(substring(md5(
          concat(lit("shard:"), mid)), 1, 8), 16, 10).cast("long"), lit(8L)))
        .withColumn("order_key", substring(md5(
          concat(lit("order:"), mid)), 1, 16))
        .withColumn("n_tokens", TextAnalysis.wordCount(col("text")).cast("long"))
      val w = Window.partitionBy("shard")
        .orderBy(col("order_key"), col("doc_id"))
      sharded
        .withColumn("position", row_number().over(w).cast("long"))
        .withColumn("cum_tokens", sum(col("n_tokens"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
        .withColumn("pack_id",
          floor((col("cum_tokens") - col("n_tokens")) / 512.0).cast("long"))
        .select(col("lang"), col("doc_id"), col("quality"), col("shard"),
          col("position"), col("pack_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy("shard", "position")
    }),

    // NORTH-STAR v2 — the same composition with the TRAINED filter in
    // the gate slot: fit the logistic quality classifier on the labeled
    // 80% split (the deployed posture: label a seed set, fit in-engine,
    // score the corpus — q_lr_holdout's split), gate on the model score
    // instead of the static stopword heuristic, then the same dedup →
    // temperature-mix → shard → pack chain. Training runs EAGERLY at
    // construction (bounded: scaler pass + 20 GD aggregations over the
    // cached standardized split); the returned plan is inference + mix +
    // pack — the corpus scans exactly twice (mixer histogram + main
    // pass), each through the broadcast-model score gate with the cached
    // pairs anti-joined — plan-gated like v1.
    "q_pipeline_manifest_v2" -> ((s, dir) => {
      import graft.functions.{QualityModel, Sampling, TextAnalysis}
      import org.apache.spark.sql.expressions.Window
      val docs = pq(s, dir, "documents")
      val fs = QualityModel.docFeatures(col("text"), col("n_chars"))
      val model = lrModel(s, dir, full = false)
      val dupLosers = guardedPairs(s, dir)
        .select(col("id_b").as("doc_id")).distinct()
      val survivors = QualityModel.scoreWith(docs, model, fs)
        .filter(col("score") >= 0.5)
        .join(dupLosers, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "score", "text")
      val mixed = Sampling.temperatureMix(survivors, "doc_id", "lang", n = 200L)
      val mid = col("doc_id").cast("string")
      val sharded = mixed
        .withColumn("shard", pmod(conv(substring(md5(
          concat(lit("shard:"), mid)), 1, 8), 16, 10).cast("long"), lit(8L)))
        .withColumn("order_key", substring(md5(
          concat(lit("order:"), mid)), 1, 16))
        .withColumn("n_tokens", TextAnalysis.wordCount(col("text")).cast("long"))
      val w = Window.partitionBy("shard")
        .orderBy(col("order_key"), col("doc_id"))
      sharded
        .withColumn("position", row_number().over(w).cast("long"))
        .withColumn("cum_tokens", sum(col("n_tokens"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("long"))
        .withColumn("pack_id",
          floor((col("cum_tokens") - col("n_tokens")) / 512.0).cast("long"))
        .select(col("lang"), col("doc_id"), col("score"), col("shard"),
          col("position"), col("pack_id"), col("n_tokens"), col("cum_tokens"))
        .orderBy("shard", "position")
    }),

    // DSIR importance weights (Xie et al. 2023): hashed-ngram likelihood
    // ratio of every document against the English slice as the target
    // distribution — the "select raw data that looks like my curated set"
    // primitive. Per-feature log-ratios fixed-pointed before the doc sum.
    "q_dsir_weights" -> ((s, dir) =>
      dsirWeightsShared(s, dir).orderBy("doc_id")),

    // Corpus drift monitor: JS divergence + L1 between the English and
    // non-English slices' hashed-ngram distributions — the snapshot-vs-
    // snapshot content-shift alarm, here exercised across a real content
    // split. Per-bucket terms fixed-pointed to 1e-9 longs before the sum.
    "q_corpus_drift" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      graft.functions.Sampling.distributionDrift(
        docs.filter(col("lang") === "en"), "text",
        docs.filter(col("lang") =!= "en"), "text")
    }),

    // Drift LOCALIZATION: one JS/L1 row per source against the whole-corpus
    // baseline histogram — which crawl drifted, not just that one did.
    "q_drift_by_source" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      graft.functions.Sampling.driftByStratum(
        docs, "text", "source",
        graft.functions.Sampling.bucketCounts(docs, "text"))
        .orderBy("source")
    }),

    // DSIR selection: Gumbel-top-k importance resampling toward the same
    // target — deterministic (content-hash Gumbel), rank pinned by the
    // fixed-point skey on both engines.
    "q_dsir_sample" -> ((s, dir) => {
      graft.functions.Sampling.dsirResampleFrom(
        dsirWeightsShared(s, dir), "doc_id", k = 25)
        .select(col("doc_id"), col("n_feats"), col("log_w"), col("skey"), col("rnk"))
        .orderBy("rnk")
    }),

    // Per-source DSIR selection — the deployed form: top-5 per source, so
    // one source's high weights can never crowd another out of the mix.
    "q_dsir_sample_strat" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      graft.functions.Sampling.dsirResamplePerStratumFrom(
        dsirWeightsShared(s, dir), docs, "doc_id", "source", kPerStratum = 5)
        .select(col("source"), col("doc_id"), col("log_w"), col("skey"), col("rnk"))
        .orderBy("source", "rnk")
    }),

    // Robust per-language length-outlier filter (median + MAD): the
    // heavy-tail document screen that plain mean/stddev z-scores get wrong.
    // Two tiny per-language aggregates broadcast back — corpus never
    // shuffles; exact percentile is right while groups = |lang| (swap
    // approx_percentile when the stratum count explodes)
    "q_length_outliers" -> ((s, dir) => {
      val docs = pq(s, dir, "documents").select("doc_id", "lang", "n_chars")
      val meds = docs.groupBy("lang").agg(expr("percentile(n_chars, 0.5)").as("med"))
      val dev = docs.join(broadcast(meds), Seq("lang"))
        .withColumn("adev", abs(col("n_chars").cast("double") - col("med")))
      val mads = dev.groupBy("lang").agg(expr("percentile(adev, 0.5)").as("mad"))
      dev.join(broadcast(mads), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("n_chars"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
          round(col("adev") / greatest(col("mad"), lit(1e-9)), 6).as("robust_z"),
          (col("adev") <= lit(3.0) * col("mad")).as("keep"))
        .orderBy("doc_id")
    }),

    // Exact per-language feature correlation from ALGEBRAIC INTEGER sums
    // (n, Sx, Sy, Sxx, Syy, Sxy — all exact longs, one mergeable pass;
    // the float formula runs once per group, so the result is bit-identical
    // on any partitioning and in the oracle — no approximate corr())
    "q_feature_corr" -> ((s, dir) => {
      val d = pq(s, dir, "documents").select(col("lang"),
        col("n_chars").cast("long").as("x"),
        graft.functions.TextAnalysis.wordCount(col("text")).cast("long").as("y"))
      d.groupBy("lang").agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
        .select(col("lang"), col("n").cast("long").as("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
              (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 6)
            .as("corr_chars_words"))
        .orderBy("lang")
    }),

    // Deterministic training-shard plan: content-hash shard assignment +
    // within-shard pseudo-random order — the reproducible data-ordering
    // contract for training runs (same plan on any cluster layout)
    "q_shard_plan" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val shard = pmod(conv(substring(md5(
        concat(lit("shard:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long"), lit(8L))
      val orderKey = substring(md5(
        concat(lit("order:"), col("doc_id").cast("string"))), 1, 16)
      pq(s, dir, "documents")
        .select(col("doc_id"), shard.as("shard"), orderKey.as("order_key"))
        .withColumn("position", row_number().over(
          Window.partitionBy("shard").orderBy(col("order_key"), col("doc_id")))
          .cast("long"))
        .orderBy("doc_id")
    }),

    // Canonical text normalization (lower + accent fold + whitespace
    // collapse) and the dedup key it produces — narrow map, zero shuffles
    "q_text_normalize" -> ((s, dir) => {
      val norm = graft.functions.TextAnalysis.normalizeText(col("text"))
      pq(s, dir, "documents")
        .select(col("doc_id"), norm.as("norm_text"), md5(norm).as("norm_hash"))
        .orderBy("doc_id")
    }),

    // Substring-level dedup signal: per-doc fraction of 8-gram positions
    // whose n-gram recurs in other documents (the suffix-array pass of
    // "Deduplicating Training Data" as corpus-wide group-bys)
    "q_repeated_ngrams" -> ((s, dir) =>
      graft.functions.Dedup.repeatedNgramProfileAgainst(
        pq(s, dir, "documents"), rep8Shared(s, dir), "doc_id", "text", n = 8)
        .orderBy("doc_id")),

    // The ACTION step over the same signal: excise every token covered by
    // a cross-document repeated 8-gram and reconstruct the document text
    // verbatim — the Lee et al. span-removal pass (C4-style boilerplate
    // excision; the keep-one-copy flavor is q_paragraph_dedup)
    "q_span_trim_text" -> ((s, dir) =>
      graft.functions.Dedup.trimSpansAgainst(
        pq(s, dir, "documents"), rep8Shared(s, dir), "doc_id", "text", n = 8)
        .orderBy("doc_id")),

    // Temperature-smoothed mixture weights (alpha = 0.5 sampling of
    // sources, the multi-source corpus-mixing calculation): per-source
    // sqrt(n) shares with fixed-point long sums for order-independence
    "q_mixture_weights" -> ((s, dir) => {
      val bySrc = pq(s, dir, "documents").groupBy("source")
        .agg(count(lit(1)).cast("long").as("n"))
        .withColumn("sq_fp",
          round(sqrt(col("n").cast("double")) * 1e6, 0).cast("long"))
      val tot = bySrc.agg(sum(col("n")).cast("long").as("n_total"),
        sum(col("sq_fp")).cast("long").as("sum_sq_fp"))
      bySrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n"),
          round(col("n").cast("double") / col("n_total").cast("double"), 6).as("share"),
          round(col("sq_fp").cast("double") / col("sum_sq_fp").cast("double"), 6)
            .as("target_share"),
          round(least(lit(1.0),
            col("sq_fp").cast("double") / col("sum_sq_fp").cast("double")
              * lit(200.0) / col("n").cast("double")), 6).as("rate"))
        .orderBy("source")
    }),

    // Model-based quality scoring: logistic-classifier INFERENCE (fixed
    // trained weights) + per-source percentile normalization — "drop the
    // worst 20% of every source" instead of one absolute threshold. Scoring
    // is narrow codegen'd arithmetic; the only shuffle is the per-source
    // rank. Ranking uses the fixed-point score so the order is engine- and
    // architecture-independent.
    "q_quality_score" -> ((s, dir) => {
      import graft.functions.{QualityModel, TextAnalysis}
      val ws = TextAnalysis.words(col("text"))
      val wc = size(ws).cast("double")
      val score = QualityModel.logisticScore(-3.0, Seq(
        log(lit(1.0) + col("n_chars")) -> 0.55,
        (size(array_distinct(ws)).cast("double") / wc) -> 2.0,
        (col("n_chars").cast("double") / wc) -> -0.35))
      val scored = pq(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          round(score, 6).as("score"),
          round(score * 1e6, 0).cast("long").as("score_fp"))
      QualityModel.perGroupPercentile(scored, "source", "score_fp", "doc_id")
        .select(col("doc_id"), col("source"), col("score"),
          round(col("pct_rank"), 6).as("pct_rank"),
          (col("pct_rank") >= 0.2).cast("int").cast("long").as("keep"))
        .orderBy("doc_id")
    }),

    // Classifier-filter TRAINING (the GPT-3 appendix-A / CCNet stage the
    // fixed-weight q_quality_score consumes): z-score standardization +
    // 20 full-batch GD steps of a logistic regression over four O(1)
    // document statistics, label = "long document" (n_chars >= 300 — the
    // one separable signal this synthetic fixture has, so convergence is
    // REAL and pinned: train_acc 0.958 vs the 0.512 base rate, log_loss
    // 0.194 vs the zero-model's ln 2). Every step is one aggregation over
    // the cached standardized frame; scaler stats and weights re-round to
    // 1e-6 per step so the DuckDB oracle replays all 20 steps bit-exactly.
    "q_lr_train" -> ((s, dir) => lrModel(s, dir, full = true)),

    // Train-then-filter composition: fit the classifier (same 20 GD steps
    // as q_lr_train), score every document with the trained model (weights
    // + scaler), keep score >= 0.5 (0.554 of the fixture; min distance of
    // any rounded score from the threshold is 7.3e-3, so the cut is
    // engine-stable). Inference is the broadcast of ONE model row into
    // codegen'd arithmetic — the corpus never shuffles.
    "q_lr_filter" -> ((s, dir) => {
      import graft.functions.QualityModel
      val d = pq(s, dir, "documents")
      val fs = QualityModel.docFeatures(col("text"), col("n_chars"))
      QualityModel.scoreWith(d, lrModel(s, dir, full = true), fs)
        .filter(col("score") >= 0.5)
        .select(col("doc_id"), col("score"))
        .orderBy("doc_id")
    }),

    // Held-out evaluation of the trained classifier — the generalization
    // check a real filter deploy requires before trusting the cut: train
    // on the doc_id%5!=0 split, score the held-out 20%, output the
    // confusion counts + accuracy/precision/recall (floor-form rounding —
    // these ratios live on a 1/n_eval decimal grid).
    "q_lr_holdout" -> ((s, dir) => {
      import graft.functions.QualityModel
      val d = pq(s, dir, "documents")
      val fs = QualityModel.docFeatures(col("text"), col("n_chars"))
      val heldOut = d.filter(pmod(col("doc_id"), lit(5)) === 0)
      val w = lrModel(s, dir, full = false)
      val scored = QualityModel.scoreWith(heldOut, w, fs).select(
        when(col("n_chars") >= 300, 1L).otherwise(0L).as("y"),
        when(col("score") >= 0.5, 1L).otherwise(0L).as("pred"))
      val cm = scored.agg(
        count(lit(1)).cast("long").as("n_eval"),
        sum(when(col("y") === 1 && col("pred") === 1, 1L).otherwise(0L))
          .cast("long").as("tp"),
        sum(when(col("y") === 0 && col("pred") === 1, 1L).otherwise(0L))
          .cast("long").as("fp"),
        sum(when(col("y") === 0 && col("pred") === 0, 1L).otherwise(0L))
          .cast("long").as("tn"),
        sum(when(col("y") === 1 && col("pred") === 0, 1L).otherwise(0L))
          .cast("long").as("fn"))
      import QualityModel.r6
      cm.select(col("n_eval"), col("tp"), col("fp"), col("tn"), col("fn"),
        r6((col("tp") + col("tn")).cast("double") / col("n_eval").cast("double"))
          .as("eval_acc"),
        r6(col("tp").cast("double")
          / greatest(col("tp") + col("fp"), lit(1L)).cast("double"))
          .as("eval_precision"),
        r6(col("tp").cast("double")
          / greatest(col("tp") + col("fn"), lit(1L)).cast("double"))
          .as("eval_recall"))
    }),

    // Calibration (reliability) table of the trained classifier: scores
    // bucketed into deciles, per bucket the observed positive rate vs the
    // mean predicted score — the diagnostic that decides whether scores
    // can be treated as probabilities (and where to put the filter cut).
    // One scoring pass + one 10-key aggregation; rates in floor-form
    // rounding (1/n_bucket decimal grid).
    "q_lr_calibration" -> ((s, dir) => {
      import graft.functions.QualityModel
      import QualityModel.{r6, fp6}
      val d = pq(s, dir, "documents")
      val fs = QualityModel.docFeatures(col("text"), col("n_chars"))
      QualityModel.scoreWith(d, lrModel(s, dir, full = true), fs)
        .select(
          least(floor(col("score") * 10).cast("long"), lit(9L)).as("bucket"),
          when(col("n_chars") >= 300, 1L).otherwise(0L).as("y"),
          col("score"))
        .groupBy("bucket")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(fp6(col("score"))).as("__sfp"),
          sum(col("y")).cast("long").as("__pos"))
        .select(col("bucket"), col("n_docs"),
          r6(col("__sfp").cast("double") / (col("n_docs").cast("double") * 1e6))
            .as("mean_score"),
          r6(col("__pos").cast("double") / col("n_docs").cast("double"))
            .as("pos_rate"))
        .orderBy("bucket")
    }),

    // One DoReMi domain-reweighting step (Xie et al. 2023): mixture
    // weights move by exp(eta * excess proxy loss) per source, the
    // harder-than-average domains gaining share. Proxy loss here = the
    // corpus-unigram NLL (the CCNet LM filter stand-in) — one corpus
    // scoring pass, one groupBy(source), then metadata-frame arithmetic.
    // The output's new_weight column is exactly the weight table
    // temperatureMixByWeight / epochMixPlan consume.
    "q_domain_reweight" -> ((s, dir) => {
      import graft.functions.{Sampling, TextAnalysis}
      val d = pq(s, dir, "documents")
      val perDoc = TextAnalysis.unigramLogProb(d, "doc_id", "text")
        .join(d.select(col("doc_id"), col("source")), Seq("doc_id"))
        .select(col("source"), (-col("logprob")).as("loss"))
      Sampling.domainReweight(perDoc, "source", "loss", eta = 50.0)
        .orderBy("key")
    }),

    // Snapshot CDC: added / removed / changed / unchanged between two crawl
    // snapshots (derived deterministically from `documents`: the old
    // snapshot is missing doc_id%11==3 and carries upper-cased text for
    // doc_id%7==2; the current one is missing doc_id%13==5). Both sides
    // project to (key, content-hash) BEFORE the full-outer join — document
    // text never shuffles.
    "q_snapshot_delta" -> ((s, dir) => {
      val d = pq(s, dir, "documents")
      val old = d.filter(pmod(col("doc_id"), lit(11)) =!= 3)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(7)) === 2, upper(col("text")))
            .otherwise(col("text")))
      val cur = d.filter(pmod(col("doc_id"), lit(13)) =!= 5)
      graft.operators.SnapshotDelta.delta(old, cur, "doc_id",
        Seq("text", "lang", "source"))
        .select(col("doc_id"), col("change"),
          coalesce(col("old_hash"), lit("")).as("old_hash"),
          coalesce(col("new_hash"), lit("")).as("new_hash"))
        .orderBy("doc_id")
    }),

    // Z-order layout: Morton-interleave two dimensions into one clustering
    // key and derive the file/bucket id from its top bits — pure projection
    // (zero shuffles here; the write path adds ONE range exchange). Close in
    // either dimension => same bucket => file min/max stats prune scans on
    // both columns.
    "q_zorder_layout" -> ((s, dir) => {
      import graft.operators.Layout
      pq(s, dir, "documents")
        .select(col("doc_id"),
          pmod(col("doc_id"), lit(256)).cast("long").as("gx"),
          pmod(col("n_chars"), lit(256)).cast("long").as("gy"))
        .withColumn("zval", Layout.zValue(col("gx"), col("gy"), 8).cast("long"))
        .withColumn("bucket", Layout.zBucket(col("zval"), 8, 64).cast("long"))
        .orderBy("doc_id")
    }),

    // Vocabulary coverage: top-k corpus tokens by frequency + cumulative
    // coverage share — the tokenizer-vocab sizing curve ("how much of the
    // corpus do the top 50 types cover?"). One token shuffle (partial+final
    // counts), top-k via sort+limit (TakeOrdered, never a global window over
    // the vocabulary), and the cumulative window runs on the k surviving
    // rows only. The corpus total rides in as a broadcast 1-row frame — no
    // driver-side action.
    "q_vocab_coverage" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val freq = pq(s, dir, "documents")
        .select(explode(graft.functions.TextAnalysis.words(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).cast("long").as("n"))
      val tot = freq.agg(sum(col("n")).cast("long").as("total"))
      val w = Window.orderBy(col("n").desc, col("tok"))
      freq.orderBy(col("n").desc, col("tok")).limit(50)
        .crossJoin(broadcast(tot))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .withColumn("cum_n",
          sum(col("n")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("rnk"), col("tok"), col("n"),
          round(col("cum_n").cast("double") / col("total").cast("double"), 6)
            .as("cum_coverage"))
        .orderBy("rnk")
    }),

    // Token-budget allocation: split a fixed training-token budget across
    // sources by temperature-smoothed TOKEN counts (alpha = 0.5) — the
    // data-mixing calculation done in tokens (what the model trains on),
    // not document counts. Fixed-point long sums keep every share
    // order-independent; two tiny aggregates + a broadcast total.
    "q_token_budget" -> ((s, dir) => {
      val budget = 1000000L
      val bySrc = pq(s, dir, "documents")
        .select(col("source"),
          graft.functions.TextAnalysis.wordCount(col("text")).cast("long").as("toks"))
        .groupBy("source")
        .agg(count(lit(1)).cast("long").as("n_docs"),
          sum(col("toks")).cast("long").as("n_tokens"))
        .withColumn("sq_fp",
          round(sqrt(col("n_tokens").cast("double")) * 1e6, 0).cast("long"))
      val tot = bySrc.agg(sum(col("sq_fp")).cast("long").as("sum_sq_fp"))
      bySrc.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("n_tokens"),
          round(col("sq_fp").cast("double") / col("sum_sq_fp").cast("double"), 6)
            .as("target_share"),
          round(col("sq_fp").cast("double") / col("sum_sq_fp").cast("double")
            * budget, 0).cast("long").as("alloc_tokens"),
          round((col("sq_fp").cast("double") / col("sum_sq_fp").cast("double") * budget)
            / (col("n_tokens").cast("double") / col("n_docs").cast("double")), 0)
            .cast("long").as("est_docs"))
        .orderBy("source")
    }),

    // ---- beyond-reference: event-stream analytics (batch-mode windows) ---

    // tumbling-hour aggregation (decimal sums: order-independent exactness;
    // round(double,6) output — see q_tpch_pricing note)
    "q_events_hourly" -> ((s, dir) =>
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value").cast("decimal(18,6)")).cast("double"), 6).as("total_value"))
        .orderBy("hour", "event_type")),

    // gap-based sessionization (30-min inactivity closes a session)
    "q_events_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      events(s, dir)
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev").isNull || expr("timestampdiff(MICROSECOND, prev, ts)") > 1800000000L, 1)
            .otherwise(0))
        .withColumn("session_id",
          sum(col("new_sess")).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"), max(col("ts")).as("session_end"))
        .orderBy("user_id", "session_id")
    }),

    // Sessionization via the BUILT-IN session_window aggregate (merging
    // windows, engine-managed state) — same question as q_events_sessionize
    // answered declaratively; boundary semantics differ (>= gap starts a
    // new session, end = last + gap), mirrored exactly in the oracle
    "q_events_session_window" -> ((s, dir) =>
      graft.stream.EventAnalytics.sessionizeBuiltin(events(s, dir))
        .orderBy("user_id", "session_start")),

    // The streaming windowed-counts operator run BATCH-MODE (the analyzer
    // eliminates the watermark on a batch relation) — oracles the actual
    // EventAnalytics code path, not a hand-written twin
    "q_stream_windowed" -> ((s, dir) =>
      graft.stream.EventAnalytics.windowedCounts(events(s, dir))
        .select(col("window_start"), col("window_end"), col("event_type"),
          col("n").cast("long").as("n"),
          // decimal intermediate, round(double,6) output (q_tpch_pricing)
          round(col("total_value").cast("double"), 6).as("total_value"))
        .orderBy("window_start", "event_type")),

    // Single-pass table profiler: per-column null counts + HLL distinct in
    // ONE aggregation over the scan (state = 2^p bytes per column), then an
    // in-plan stack() unpivot — the "what is in this table" first pass a
    // 100 TB ingest runs before any other query. Register-exact oracle.
    "q_profile_sketch" -> ((s, dir) =>
      graft.functions.Profile.profileTable(
        pq(s, dir, "documents"),
        Seq("doc_id", "lang", "n_chars", "source", "text"))),

    // The streaming windowed HLL-distinct operator run BATCH-MODE — per
    // (window, type) distinct users from fixed 2^p-byte registers; the
    // oracle recomputes the register state (s_scaled, zero_buckets), so
    // this pins the sketch the stream would carry, not just the estimate
    "q_stream_distinct" -> ((s, dir) =>
      graft.stream.EventAnalytics.windowedDistinctUsers(events(s, dir))
        .orderBy("window_start", "event_type")),

    // The streaming per-group DDSketch quantile operator run BATCH-MODE —
    // oracles the actual EventAnalytics state path (the aggregator's bucket
    // merge IS the streaming state transition, so batch == stream by
    // construction; the streaming spec pins that equality, this row pins
    // the values against DuckDB)
    "q_stream_quantiles" -> ((s, dir) =>
      graft.stream.EventAnalytics.valueQuantiles(events(s, dir), "event_type", "value")
        .select(col("event_type"), posexplode(col("quantile_buckets")))
        .select(col("event_type"),
          element_at(array(lit(0.5), lit(0.9), lit(0.99)), col("pos").cast("int") + 1).as("q"),
          col("col").cast("long").as("bucket"))
        .orderBy("event_type", "q")),

    // The streaming stream-stream interval join (click attribution) run
    // BATCH-MODE over view/click events — same code path as the stream
    "q_stream_attribution" -> ((s, dir) => {
      val ev = events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select("user_id", "ts", "event_id")
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id", "value")
      graft.stream.EventAnalytics.attributeClicks(views, clicks, maxDelay = "2 hours")
        .select(col("user_id"), col("view_ts"), col("click_ts"),
          col("view_event_id"), col("click_event_id"),
          col("click_value"))
        .orderBy("view_event_id", "click_event_id")
    }),

    // top-k by aggregate with deterministic tie-break. Scale-safe shape:
    // sort+limit plans as TakeOrderedAndProject (per-partition top-k, then a
    // k-row merge) — no global window over the full distinct-user set. The
    // rank is assigned AFTER the limit, over exactly k surviving rows; the
    // constant partitionBy keeps WindowExec off the no-partition warning path
    // while the frame is provably <= k rows.
    "q_events_topk_users" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val top = events(s, dir)
        .groupBy("user_id")
        .agg(sum(col("value").cast("decimal(18,6)")).as("tv"),
          count(lit(1)).as("n"))
        .orderBy(col("tv").desc, col("user_id"))
        .limit(10)
      top
        .withColumn("rnk", row_number().over(
          Window.partitionBy(lit(1)).orderBy(col("tv").desc, col("user_id"))).cast("long"))
        // ranked on the EXACT decimal; round(double,6) output (q_tpch_pricing)
        .select(col("user_id"), round(col("tv").cast("double"), 6).as("total_value"),
          col("n"), col("rnk"))
        .orderBy("rnk")
    }),

    // S2/F6 — JSON message parsing (the dispatch shell's from_json shape,
    // exercised batch-mode over the events.props JSON column)
    "q_json_parse" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .orderBy("event_id")),

    // As-of join: each click joined to the user's most recent prior
    // purchase — union + one partitioned running-last window, NO inequality
    // join (which Spark would plan as a per-key cross product)
    "q_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("user_id", "ts", "event_id")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "value")
      graft.operators.Joins.asofJoin(
        clicks, purchases, Seq("user_id"), "ts", Seq("ts", "value"), prefix = "p_")
        .select(col("event_id"), col("user_id"), col("ts"),
          // null-free projection: the driver comparator hashes strings, and
          // NULL timestamp/double render engine-dependently
          coalesce(col("p_ts"), lit("1970-01-01 00:00:00").cast("timestamp")).as("purchase_ts"),
          coalesce(col("p_value"), lit(-1.0)).as("purchase_value"))
        .orderBy("event_id")
    }),

    // Calendar-spine gap fill: an hourly spine per user carried forward to
    // the last known event value (as-of semantics) — the standard
    // time-series densification, built on the same no-cross-join asofJoin
    "q_gap_fill" -> ((s, dir) => {
      // 720 hours of Jan 2024 x users 0-4; 2024-01-01T00:00:00Z in micros
      val spine = s.range(720)
        .select(timestamp_micros(lit(1704067200000000L) + col("id") * 3600000000L).as("ts"),
          explode(array((0 until 5).map(u => lit(u.toLong)): _*)).as("user_id"))
      val ev = events(s, dir).filter(col("user_id") < 5)
        .select("user_id", "ts", "value")
      graft.operators.Joins.asofJoin(spine, ev, Seq("user_id"), "ts", Seq("value"), prefix = "last_")
        .select(col("user_id"), col("ts"),
          coalesce(col("last_value"), lit(-1.0)).as("last_value"))
        .orderBy("user_id", "ts")
    }),

    // Bucketed range join: events against 30 fixed 6-hour campaign windows
    // (09:00-15:00 UTC daily) — interval containment WITHOUT a cross join:
    // intervals explode onto a 6h bucket grid, points equi-join their bucket
    "q_range_join" -> ((s, dir) => {
      // 2024-01-01T09:00:00Z in epoch micros; windows are day i at 09:00+6h
      val base = 1704099600000000L
      val day = 86400000000L
      val iv = s.range(30).select(
        col("id").cast("long").as("window_id"),
        (lit(base) + col("id") * day).as("ws"),
        (lit(base) + col("id") * day + 21600000000L).as("we"))
      val pts = events(s, dir).select(unix_micros(col("ts")).as("us"), col("value"))
      val joined = graft.operators.Joins.rangeJoinByBucket(
        pts, iv, "us", "ws", "we", bucketWidth = 21600000000L)
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("tv"))
      iv.select("window_id").join(joined, Seq("window_id"), "left")
        .select(col("window_id"),
          coalesce(col("n_events"), lit(0L)).cast("long").as("n_events"),
          // decimal intermediate, round(double,6) output (q_tpch_pricing note)
          round(coalesce(col("tv"), lit(0).cast("decimal(18,6)")).cast("double"), 6)
            .as("total_value"))
        .orderBy("window_id")
    }),

    // Transitive near-dup clusters (connected components over jaccard>=0.8
    // pairs via min-label propagation, 5 unrolled rounds)
    "q_dedup_clusters" -> ((s, dir) => {
      val docs = pq(s, dir, "documents")
      // LSH-verified jaccard (see q_corpus_prep note) feeding the clustering;
      // the pairs frame is shared with q_corpus_prep via guardedPairs.
      graft.functions.Dedup.clusterLabels(docs, "doc_id", guardedPairs(s, dir), iterations = 5)
        .orderBy("doc_id")
    }),

    // Deterministic KMV distinct sketch — oracle-verifiable approximate
    // distinct counting (engine-portable, unlike HLL registers)
    "q_sketch_distinct" -> ((s, dir) =>
      graft.functions.Sketches.kmvDistinct(pq(s, dir, "lineitem"), "l_orderkey", k = 256)),

    // Salted two-phase duplicate count — identical results to q_dup_emails,
    // hot keys spread over 16 reducers before the final combine (skew guard,
    // SURVEY §7.5 hard part 5)
    "q_dup_emails_salted" -> ((s, dir) =>
      graft.functions.Sketches
        .saltedCount(
          csvInput(s, dir)
            .select(normEmail(col("email")).as("norm_email"))
            .filter(col("norm_email") =!= ""),
          "norm_email", salts = 16)
        .filter(col("cnt") > 1)
        .orderBy("norm_email")),

    // Incremental aggregation maintenance: yesterday's persisted aggregate
    // STATE (algebraic: count + sum) merged with today's delta equals the
    // full recompute (the oracle recomputes from scratch). At 100 TB the
    // state frame is loaded from the store and only the delta's raw rows
    // are scanned — history is never rescanned. The merge is a union of two
    // narrow aggregate frames + one re-aggregation of per-day partials.
    "q_incremental_agg" -> ((s, dir) => {
      val ev = events(s, dir)
        .select(to_date(col("ts")).as("day"), col("event_type"),
          col("value").cast("double").as("value"))
      val split = lit("1970-03-01").cast("date")
      def aggOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("day", "event_type")
          .agg(count(lit(1)).cast("long").as("n"),
            // fixed-point long partials: order-independent across engines
            sum(round(col("value") * 1e6, 0).cast("long")).as("sum_fp"))
      val state = aggOf(ev.filter(col("day") < split))   // "persisted" state
      val delta = aggOf(ev.filter(col("day") >= split))  // today's arrivals
      state.unionByName(delta)
        .groupBy("day", "event_type")
        .agg(sum(col("n")).cast("long").as("n"),
          sum(col("sum_fp")).cast("long").as("sum_fp"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"), col("event_type"),
          col("n"),
          round(col("sum_fp").cast("double") / 1e6 / col("n").cast("double"), 6)
            .as("avg_value"))
        .orderBy("day", "event_type")
    }),

    // ---- beyond-reference: columnar-scan heft (TPC-H-style shapes) -------

    // Q1-like pricing summary: wide scan + grouped decimal aggregation.
    // Decimal INTERMEDIATE sums keep order-independent exactness; the OUTPUT
    // columns are round(double, 6) on both engine and oracle sides — the
    // driver comparator loads Spark parquet decimals as python Decimal but
    // DuckDB decimals as float64, so a decimal output column can never
    // string-compare equal regardless of value. The discount product is cast
    // to dec(18,6) BEFORE the sum: prices/discounts carry 2 decimal digits,
    // so the 4-digit product is exact at scale 6 — and summing dec(18,6)
    // avoids Spark's precision-overflow scale reduction.
    "q_tpch_pricing" -> ((s, dir) =>
      pq(s, dir, "lineitem")
        .filter(col("l_shipdate") < to_timestamp(lit("1997-01-01 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity").cast("decimal(18,6)")).as("sq"),
          sum(col("l_extendedprice").cast("decimal(18,6)")).as("sbp"),
          sum((col("l_extendedprice").cast("decimal(18,6)") *
            (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)")))
            .cast("decimal(18,6)")).as("sdp"),
          count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("sq").cast("double"), 6).as("sum_qty"),
          round(col("sbp").cast("double"), 6).as("sum_base_price"),
          round(col("sdp").cast("double"), 6).as("sum_disc_price"),
          col("n"),
          round(col("sq").cast("double") / col("n").cast("double"), 6).as("avg_qty"))
        .orderBy("l_returnflag", "l_linestatus")),

    // 3-way join + grouped revenue (customer ⋈ orders ⋈ lineitem)
    "q_tpch_revenue" -> ((s, dir) => {
      val c = pq(s, dir, "customer").select("c_custkey", "c_mktsegment")
      val o = pq(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
      val l = pq(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
          sum((col("l_extendedprice").cast("decimal(18,6)") *
            (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)")))
            .cast("decimal(18,6)")).as("rev"),
          count(lit(1)).as("n_lines"))
        // decimal intermediate, round(double,6) output — see q_tpch_pricing
        .select(col("c_mktsegment"), col("o_orderpriority"),
          round(col("rev").cast("double"), 6).as("revenue"), col("n_lines"))
        .orderBy("c_mktsegment", "o_orderpriority")
    }),

    // Bloom-pruned join (semi-join reduction): lineitem rows are filtered by
    // a Bloom over the urgent orders' keys BEFORE the join shuffle — ~80% of
    // the big side never leaves its scan partition. Result is exactly the
    // plain join (the oracle); false probe positives die in the join.
    "q_bloom_prune_join" -> ((s, dir) => {
      val li = pq(s, dir, "lineitem")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val urgent = pq(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_custkey")
      graft.operators.Joins.bloomPrunedJoin(li, urgent,
        "l_orderkey", "o_orderkey", expectedItems = 100000L, fpp = 0.01)
        .groupBy(pmod(col("o_custkey"), lit(10)).cast("long").as("cust_bucket"))
        .agg(
          sum((col("l_extendedprice").cast("decimal(18,6)") *
            (lit(1).cast("decimal(18,6)") - col("l_discount").cast("decimal(18,6)")))
            .cast("decimal(18,6)")).as("rev"),
          count(lit(1)).as("n_lines"))
        // decimal intermediate, round(double,6) output — see q_tpch_pricing
        .select(col("cust_bucket"),
          round(col("rev").cast("double"), 6).as("revenue"),
          col("n_lines").cast("long").as("n_lines"))
        .orderBy("cust_bucket")
    }),

    // ---- beyond-reference: multimodal columns -----------------------------
    // Real codecs: javax.imageio (PNG/JPEG) + javax.sound.sampled (WAV PCM),
    // exercised with true fixture decodes in FunctionsSpec. THIS oracle
    // corpus carries text payloads (not decodable media), so every row takes
    // the deterministic fallback path, which DuckDB replicates exactly:
    // list_reduce folds the payload's hex bytes as (acc*31 + byte) mod 2^32,
    // plus the width/height derivations. The float32 feature vector stays
    // OUT of the driver query (float arithmetic isn't engine-portable); its
    // values are pinned by FunctionsSpec's exact-determinism assertions.
    "q_multimodal_features" -> ((s, dir) => {
      import graft.functions.Multimodal
      val media = Multimodal.syntheticMedia(pq(s, dir, "documents"), "doc_id", "text")
      Multimodal.extractFeatures(media).toDF()
        .select(
          col("media_id"), col("kind"), col("n_bytes"), col("checksum"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"))
        .orderBy("media_id")
    }),

    // Perceptual hash per media object: dHash for decodable images, the
    // 32-bit checksum stub otherwise. The synthetic corpus is all text
    // payloads, so every row exercises the stub branch — which the oracle
    // replays byte-exactly; the REAL dHash arithmetic is pinned by
    // FunctionsSpec over generated PNGs (JDK decode isn't SQL-mirrorable).
    "q_image_phash" -> ((s, dir) => {
      import graft.functions.Multimodal
      val media = Multimodal.syntheticMedia(pq(s, dir, "documents"), "doc_id", "text")
      Multimodal.perceptualHashes(media).orderBy("media_id")
    }),

    // Checksum near-collision pairs: pigeonhole-banded EXACT hamming<=6
    // recall over the 32-bit stub hashes, banded PER KIND (a cross-kind
    // checksum collision is never a media near-dup). The banding keeps
    // candidates to band equi-groups; the oracle's all-pairs xor is the
    // exactness witness the banded plan must reproduce. The production
    // image path (real 64-bit dHash, decoded-rows-only) shares the same
    // hammingPairs core and is pinned by FunctionsSpec over generated
    // PNGs — a JDK decode isn't SQL-mirrorable.
    "q_phash_checksum_pairs" -> ((s, dir) => {
      import graft.functions.Multimodal
      val media = Multimodal.syntheticMedia(pq(s, dir, "documents"), "doc_id", "text")
      Multimodal.checksumDupPairs(media, maxHamming = 6)
        .orderBy("kind", "id_a", "id_b")
    }),

    // Multimodal metadata plumbing (schema, kind routing, byte accounting) —
    // the codec-independent half of the media table, fully SQL-expressible,
    // so it carries the oracle coverage for the multimodal source path.
    "q_multimodal_meta" -> ((s, dir) => {
      import graft.functions.Multimodal
      Multimodal.syntheticMedia(pq(s, dir, "documents"), "doc_id", "text").toDF()
        .select(
          col("media_id"), col("kind"),
          length(col("payload")).cast("long").as("n_bytes"),
          col("source"))
        .orderBy("media_id")
    }),

    // Count-anomaly detection over hourly event volumes per type (ingest
    // monitoring: "did this source spike?"). Raw events aggregate ONCE into
    // the (hour x type) rollup; per-type moments are exact BIGINTs
    // broadcast back onto that tiny frame, so the anomaly pass adds zero
    // full-data scans. Flags hours with z-score > 2.
    "q_events_anomaly" -> ((s, dir) =>
      graft.operators.TimeSeries.countAnomalies(events(s, dir), "ts", "event_type",
          grain = "hour", z = 2.0)
        .orderBy("event_type", "bucket")),

    // Calendar-aware rolling aggregates: per-type daily counts with a
    // trailing 7-day RANGE window on the epoch-day index (gaps shrink the
    // window, they don't slide it). The window runs over the tiny daily
    // rollup, partitioned by type — never over raw events.
    "q_events_rolling" -> ((s, dir) =>
      graft.operators.TimeSeries.rollingDailyCounts(events(s, dir), "ts", "event_type",
          days = 7)
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("n_window"), col("days_present"), col("avg_window"))
        .orderBy("event_type", "day")),

    // Sequence-length curve: documents bucketed by token count (width 8)
    // with the cumulative share of the corpus at or below each bucket —
    // the distribution a training pipeline reads to pick max_seq_len /
    // packing parameters. One narrow map + one tiny keyed agg; the
    // cumulative window runs over <= (max_len / 8) bucket rows (bounded, so
    // the single-partition window is fine at any corpus size).
    "q_seq_len_curve" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val wc = graft.functions.TextAnalysis.wordCount(col("text")).cast("long")
      val b = pq(s, dir, "documents")
        .select((wc - pmod(wc, lit(8L))).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).cast("long").as("n_docs"))
      val tot = b.agg(sum(col("n_docs")).cast("long").as("total"))
      val w = Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      b.crossJoin(broadcast(tot))
        .withColumn("cum_docs", sum(col("n_docs")).over(w).cast("long"))
        .select(col("bucket"), col("n_docs"), col("cum_docs"),
          round(col("cum_docs").cast("double") / col("total").cast("double"), 6)
            .as("cum_share"))
        .orderBy("bucket")
    }),

    // Blocked fuzzy record linkage: per-part nearest-neighbor edit distance
    // within the p_brand block — the entity-resolution shape (typo-distance
    // matching) no hash dedup can express. The block key turns all-pairs
    // into an equi-join quadratic only in the largest block.
    "q_fuzzy_nn" -> ((s, dir) =>
      graft.operators.Linkage.nearestNeighborFromDistances(
          fuzzyBandedShared(s, dir),
          pq(s, dir, "part"), "p_partkey", "p_name", Seq("p_brand"))
        .select(col("id_a").as("p_partkey"), col("p_brand"), col("nn_dist"))
        .orderBy("p_partkey")),

    // Candidate duplicate pairs from the same blocked join: names within
    // edit distance 2 inside a brand block (the screen a contact/product
    // deduper reviews).
    "q_fuzzy_pairs" -> ((s, dir) =>
      // The <=2 screen over the SHARED threshold-3 pass-1 frame: rows at
      // dist <= 2 carry exact distances (banded-DP contract), so the
      // screen == the direct maxDist=2 computation (spec-pinned).
      graft.operators.Linkage.fuzzyDupPairsFrom(
          fuzzyBandedShared(s, dir), maxDist = 2)
        .orderBy("id_a", "id_b")),

    // Cross-source near-duplicate pairs: the shared production pair frame
    // restricted to pairs spanning DIFFERENT sources — the inter-crawl
    // contamination view (which sources re-host each other's content?).
    // Costs two broadcast-ready joins on top of the cached pairs.
    "q_dedup_cross_source" -> ((s, dir) => {
      val src = pq(s, dir, "documents").select(col("doc_id"), col("source"))
      guardedPairs(s, dir)
        .join(src.select(col("doc_id").as("id_a"), col("source").as("source_a")),
          Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("source_b")),
          Seq("id_b"))
        .filter(col("source_a") =!= col("source_b"))
        .select(col("id_a"), col("id_b"), col("source_a"), col("source_b"),
          col("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // Source-overlap matrix: near-dup pair counts per unordered source
    // pair — the inter-crawl contamination report that decides which
    // sources need cross-dedup before mixing
    "q_source_overlap_matrix" -> ((s, dir) =>
      crossSourcePairCounts(s, dir)
        .select(col("s1").as("src_1"), col("s2").as("src_2"),
          col("w").as("n_pairs"))
        .orderBy("src_1", "src_2")),

    // Hot-key skew advisor: top users by event volume with the salt factor
    // the salted-join guards need (ceil(cnt * parts / total))
    "q_skew_report" -> ((s, dir) =>
      graft.operators.Joins.skewReport(
        events(s, dir), "user_id", topK = 20, parts = 32)
        .orderBy(col("cnt").desc, col("user_id"))),

    // Hard-negative mining: exact-jaccard near-miss pairs in [0.01, 0.8) —
    // the confusable-but-not-duplicate pairs contrastive training needs.
    // Candidates come from the DF-CAPPED inverted index (stop-shingles with
    // df > 1000 never enter the self-join — the bounded-bucket production
    // path); the cap is unreachable at every test SF, so the exact oracle
    // still pins the output bit-for-bit.
    "q_hard_negatives" -> ((s, dir) =>
      graft.functions.Dedup.nearMissPairs(
        pq(s, dir, "documents"), "doc_id", "text", n = 4, lo = 0.01, hi = 0.8)
        .orderBy("id_a", "id_b")),

    // Count-min sketch: depth x width cell table over event user_ids,
    // probed for small-id users — est >= exact always; overcount shows
    // collision cost at width 64
    "q_cms_freq" -> ((s, dir) => {
      import graft.functions.Sketches
      val ev = events(s, dir).select(col("user_id"))
      val sketch = Sketches.cmsBuild(ev, "user_id", depth = 4, width = 64)
      val probe = ev.filter(col("user_id") < 50)
      val exact = probe.groupBy("user_id")
        .agg(count(lit(1)).cast("long").as("exact_count"))
      Sketches.cmsEstimate(sketch, probe, "user_id", depth = 4, width = 64)
        .join(exact, "user_id")
        .withColumn("overcount",
          (col("est_count") - col("exact_count")).cast("long"))
        .orderBy("user_id")
    }),

    // Mergeable relative-error quantiles (DDSketch): geometric buckets are
    // pure count sums, so the sketch is partitioning-independent and the
    // integer bucket walk oracle-exact (the 4th sketch classic alongside
    // KMV distinct / Misra-Gries frequency / CMS counts)
    "q_dd_quantiles" -> ((s, dir) => {
      val dd = udaf(new graft.functions.DdSketchAggregator(0.01, Seq(0.5, 0.9, 0.99)))
      events(s, dir).groupBy("event_type").agg(dd(col("value")).as("bk"))
        .select(col("event_type"), posexplode(col("bk")))
        .select(col("event_type"),
          element_at(array(lit(0.5), lit(0.9), lit(0.99)), col("pos").cast("int") + 1).as("q"),
          col("col").cast("long").as("bucket"))
        .orderBy("event_type", "q")
    }),

    // J8/W6 — consolidation projection (READY -> contacts)
    "q_consolidate" -> ((s, dir) => {
      val c = classified(s, dir)
      val staging = c.select(
        col("row_number").as("staging_id"),
        col("job_id").as("staging_job_id"),
        trimmed(col("email")).as("staging_email"),
        trimmed(col("first_name")).as("staging_first_name"),
        trimmed(col("last_name")).as("staging_last_name"),
        trimmed(col("company")).as("staging_company"),
        col("staging_status"))
      Consolidate.readyToContactsKeyed(staging, jobUsersStandIn(s))
        .drop("staging_job_id").orderBy("staging_id")
    })
  )

  /** DDSketch bucket-walk oracle, shared by the batch (q_dd_quantiles) and
    * streaming-operator (q_stream_quantiles) rows. Zero class mirrored from
    * DdSketchAggregator.reduce: non-positive (incl. NaN — DuckDB orders NaN
    * above zero, Scala's `x > 0` is false) rows bucket to the Int.MinValue
    * sentinel BELOW every real bucket and still count toward total, and the
    * CASE keeps ln() off rows where DuckDB would raise "cannot take
    * logarithm of zero". */
  private val ddQuantilesOracleSql: String =
    """WITH p AS (
      |  SELECT event_type,
      |         CASE WHEN value > 0 AND NOT isnan(value)
      |              THEN CAST(ceil(ln(value) / ln((1 + CAST(0.01 AS DOUBLE)) / (1 - CAST(0.01 AS DOUBLE)))) AS BIGINT)
      |              ELSE CAST(-2147483648 AS BIGINT) END AS b
      |  FROM events),
      |c AS (SELECT event_type, b, count(*) AS n FROM p GROUP BY 1, 2),
      |t AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY 1),
      |w AS (
      |  SELECT c.event_type, c.b,
      |         CAST(sum(c.n) OVER (PARTITION BY c.event_type ORDER BY c.b) AS BIGINT) AS cum,
      |         t.total
      |  FROM c JOIN t USING (event_type)),
      |q AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.5), (0.9), (0.99)) v(q)),
      |hit AS (
      |  SELECT w.event_type, q.q, w.b,
      |         row_number() OVER (PARTITION BY w.event_type, q.q ORDER BY w.b) AS rn
      |  FROM w CROSS JOIN q
      |  WHERE w.cum >= CAST(ceil(q.q * w.total) AS BIGINT))
      |SELECT event_type, q, b AS bucket FROM hit WHERE rn = 1
      |ORDER BY event_type, q""".stripMargin

  /** Shared WITH-chain computing the curation gate flags (ends in CTE
    * `gd`: doc_id, g1_drop..g4_drop) — one definition for the funnel and
    * kept-set oracles. */
  private val curationGatesCteSql: String =
    s"""$clusterChainSql,
         |g1 AS (
         |  SELECT doc_id,
         |    doc_id <> min(doc_id) OVER (PARTITION BY
         |      md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))) AS g1_drop
         |  FROM documents),
         |q AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS qv FROM documents),
         |best AS (
         |  SELECT cluster_id, survivor_id FROM (
         |    SELECT l5.cluster_id, q.doc_id AS survivor_id,
         |      row_number() OVER (PARTITION BY l5.cluster_id
         |        ORDER BY q.qv DESC, q.doc_id) AS rn
         |    FROM l5 JOIN q USING (doc_id)) WHERE rn = 1),
         |g2 AS (
         |  SELECT l5.doc_id, l5.doc_id <> best.survivor_id AS g2_drop
         |  FROM l5 JOIN best USING (cluster_id)),
         |lsc AS (
         |  SELECT doc_id, lang,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w IN ('the','a','of','and','to'))) AS BIGINT) AS hits_en,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w IN ('der','die','das','und','ist'))) AS BIGINT) AS hits_de,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w IN ('el','los','las','una','y'))) AS BIGINT) AS hits_es,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w IN ('le','les','et','est','dans'))) AS BIGINT) AS hits_fr,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w IN ('的','是','了','和','在'))) AS BIGINT) AS hits_zh
         |  FROM documents),
         |g3 AS (
         |  SELECT doc_id, lang <> CASE
         |    WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
         |    WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
         |    WHEN hits_es >= hits_en AND hits_es >= hits_de AND hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
         |    WHEN hits_fr >= hits_en AND hits_fr >= hits_de AND hits_fr >= hits_es AND hits_fr >= hits_zh THEN 'fr'
         |    ELSE 'zh' END AS g3_drop
         |  FROM lsc),
         |qb AS (
         |  SELECT doc_id,
         |    CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS n_words,
         |    round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
         |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w IN ('the','a','of','and','to'))) AS DOUBLE) AS stop_hits
         |  FROM documents),
         |g4 AS (
         |  SELECT doc_id,
         |    round(0.4 * (least(n_words, 100.0) / 100.0)
         |        + 0.3 * (1.0 - punct_ratio)
         |        + 0.3 * least(stop_hits / greatest(n_words, 1.0) * 5.0, 1.0), 6)
         |      < 0.6 AS g4_drop
         |  FROM qb),
         |gd AS (
         |  SELECT g1.doc_id, g1_drop, g2_drop, g3_drop, g4_drop
         |  FROM g1 JOIN g2 USING (doc_id) JOIN g3 USING (doc_id)
         |  JOIN g4 USING (doc_id))""".stripMargin

  /** Exact inverted-index jaccard pairs — shared verbatim by
    * q_dedup_jaccard (uncapped witness) and q_dedup_jaccard_capped (the
    * dfCap-guarded production path): the two agree on every corpus whose
    * stop-shingle-only pairs sit below threshold (all of them, at 0.8). */
  private val jaccardPairsOracleSql: String =
    s"""WITH $shingleCtes,
       |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
       |pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |  round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) AS jaccard
       |FROM pairs
       |JOIN sizes sa ON id_a = sa.doc_id
       |JOIN sizes sb ON id_b = sb.doc_id
       |WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.8
       |ORDER BY id_a, id_b""".stripMargin

  /** The alpha-sampling quota+pick replay, shared verbatim by
    * q_temperature_mix (window-form metadata) and
    * q_temperature_mix_manykeys (keyed metadata): the two operators differ
    * only in physical plan, so one SQL pins both. */
  private val temperatureMixOracleSql: String =
    """WITH counts AS (
      |  SELECT lang, CAST(count(*) AS DOUBLE) AS cnt FROM documents GROUP BY 1),
      |weights AS (
      |  SELECT lang, CAST(cnt AS BIGINT) AS keyn,
      |    CAST(round(sqrt(cnt) * 1e6, 0) AS BIGINT) AS w6 FROM counts),
      |total AS (SELECT CAST(sum(w6) AS BIGINT) AS sumw6 FROM weights),
      |quotas AS (
      |  SELECT lang, least(
      |    CAST(floor(200.0 * CAST(w6 AS DOUBLE) / CAST(sumw6 AS DOUBLE)) AS BIGINT),
      |    keyn) AS quota
      |  FROM weights CROSS JOIN total),
      |hashed AS (
      |  SELECT doc_id, lang,
      |    round(((('0x' || substr(md5('graft:' || lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 0.5)
      |      / 4294967296.0), 6) AS samp_u
      |  FROM documents),
      |ranked AS (
      |  SELECT h.doc_id, h.lang, q.quota,
      |    CAST(row_number() OVER (PARTITION BY h.lang ORDER BY h.samp_u ASC, h.doc_id ASC) AS BIGINT) AS rnk
      |  FROM hashed h JOIN quotas q USING (lang))
      |SELECT lang, doc_id, quota, rnk FROM ranked WHERE rnk <= quota
      |ORDER BY lang, rnk""".stripMargin

  /** LSH band-collision candidate pairs — shared verbatim by
    * q_dedup_lsh_pairs (uncapped witness) and q_dedup_lsh_pairs_capped
    * (the stop-band-guarded production path): the two agree on every
    * corpus whose band buckets stay under the cap (all fixtures). */
  private val lshPairsOracleSql: String =
    s"""WITH $shingleCtes,
       |$minhashSigsCte,
       |banded AS (
       |  SELECT doc_id, 0 AS band, md5(sig_0 || sig_1) AS bkey FROM sigs
       |  UNION ALL SELECT doc_id, 1, md5(sig_2 || sig_3) FROM sigs
       |  UNION ALL SELECT doc_id, 2, md5(sig_4 || sig_5) FROM sigs
       |  UNION ALL SELECT doc_id, 3, md5(sig_6 || sig_7) FROM sigs)
       |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |FROM banded a JOIN banded b ON a.band = b.band AND a.bkey = b.bkey
       |WHERE a.doc_id < b.doc_id
       |ORDER BY id_a, id_b""".stripMargin

  /** The BPE merge-loop replay, shared by q_bpe_train and q_bpe_encode:
    * weighted vocabulary, then per round t — adjacent-pair counts from the
    * current segmentation (one unnest pass), the argmax merge (count
    * DESC, then smallest pair — bpeTrainMerges' tie-break verbatim), and
    * the merge applied as string replace() over a DOUBLE-space-separated
    * symbol string with single-space edges: ' l␣␣r ' → ' lr ' consumes one
    * space from each side's double gap, so adjacent occurrences never
    * contend for a delimiter and non-overlapping left-to-right replace()
    * is EXACTLY bpeMergeOnce's greedy scan in both engines. Every w/m CTE
    * is MATERIALIZED (each is referenced twice+ — plain CTE inlining
    * would re-execute the whole upstream chain ~2^rounds times, the
    * round-10 label-propagation lesson). Assumes no round's best pair
    * falls below count 2 on the fixture (bpeTrainMerges would stop early;
    * sf0.01's top pairs are in the hundreds). */
  private def bpeChainSql(merges: Int): String = {
    val vocab =
      """vocab AS MATERIALIZED (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
        |  WHERE length(word) >= 2 GROUP BY 1),
        |w0 AS MATERIALIZED (
        |  SELECT word, freq, array_to_string(
        |    list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)),
        |    '  ') AS rep
        |  FROM vocab)""".stripMargin
    val rounds = (1 to merges).map { t =>
      s"""px$t AS (SELECT freq, s, unnest(generate_series(1, len(s) - 1)) AS i
         |  FROM (SELECT freq, string_split(rep, '  ') AS s FROM w${t - 1})),
         |p$t AS (SELECT s[i] AS l, s[i + 1] AS r2, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM px$t GROUP BY 1, 2),
         |m$t AS MATERIALIZED (
         |  SELECT l, r2, cnt FROM p$t ORDER BY cnt DESC, l, r2 LIMIT 1),
         |w$t AS MATERIALIZED (
         |  SELECT word, freq, trim(replace(' ' || rep || ' ',
         |    (SELECT ' ' || l || '  ' || r2 || ' ' FROM m$t),
         |    (SELECT ' ' || l || r2 || ' ' FROM m$t))) AS rep
         |  FROM w${t - 1})""".stripMargin
    }.mkString(",\n")
    s"WITH $vocab,\n$rounds"
  }

  /** Tokens of the documents matching `where` as (doc_id, w, pos) — the
    * oracle twin of TextAnalysis.words + posexplode. */
  private def oracleTokensSql(where: String): String =
    s"""SELECT doc_id,
       |    unnest(string_split_regex(text, '\\s+')) AS w,
       |    unnest(generate_series(1, len(string_split_regex(text, '\\s+')))) AS pos
       |  FROM documents WHERE $where""".stripMargin

  /** The training-token CTE `ttoks` over the documents matching `where`. */
  private def trainTokens(where: String): String =
    s"ttoks AS MATERIALIZED (\n  ${oracleTokensSql(where)})"

  /** The DuckDB oracle of the whole Kneser-Ney family: ONE plain-SQL
    * chain for any `order` >= 2, interpolated KN (D = 0.75 at every level)
    * or modified KN (`mkn`), mirroring [[graft.functions.LmIndex]]'s
    * build and serve (Chen & Goodman 1998's recursion, KenLM's build
    * order) without calling into the DataFrame code.
    *
    *  - `trainTokens` defines the training-token CTE `ttoks(doc_id, w,
    *    pos)`; `scoreWhere` selects the SCORED documents, which the model
    *    CTEs never see. In-corpus scoring is train = score = every
    *    document; a probed serve filters the scored side only.
    *  - Per key width k: `ng<k>f` counts the raw k-grams (2..order) and
    *    `mc<k>f` the continuation counts (2..order-1: distinct left
    *    extensions in `ng<k+1>f` — adjusted counts precede pruning,
    *    KenLM's order). Each keeps the rows at or above its width's
    *    `pruneMin` threshold (`ng<k>`, `mc<k>`; `Nil` keeps all) under a
    *    context table `<t>x` whose `cc` is the FULL total, whose follower
    *    tallies count survivors and whose `pm` is the pruned mass;
    *    contexts with no survivor drop, so the serve backs off a whole
    *    level there (λ = pm/cc = 1).
    *  - Modified KN adds each table's count-of-counts `<t>n` (from the
    *    FULL counts: calibration precedes pruning) and ONE discount CTE
    *    `dd`: eq. 26's D1/D2/D3+ per table, or KenLM's default
    *    --discount_fallback (0.5, 1.0, 1.5) where a table has no types at
    *    count 1, 2 or 3 or an estimate D_j falls outside [0, j] —
    *    [[graft.functions.TextAnalysis.mknLevelDiscounts]] term by term.
    *  - Scoring is the frozen-model OOV-safe form, which every case
    *    reduces to: a seen context covers seen, unseen and pruned events
    *    in one expression (count coalesced to 0, D(0) = 0, λ carrying the
    *    pruned mass), an unseen context backs off a full level, and unseen
    *    continuation/unigram events take the reserved 0.5-type mass.
    *    Per-token log-probabilities sum as 1e-6 fixed-point longs.
    *
    * Exports `lm(doc_id, n_tokens, logprob)`. Large count tables are
    * MATERIALIZED against DuckDB's plain-CTE re-inlining. */
  private def knOracleCtes(order: Int, mkn: Boolean, trainTokens: String,
      scoreWhere: String = "TRUE", pruneMin: Seq[Long] = Nil): String = {
    require(order >= 2 && (pruneMin.isEmpty || pruneMin.length == order - 1),
      s"order >= 2 with one threshold per key width 2..$order, got $order/$pruneMin")
    val thr = if (pruneMin.isEmpty) Seq.fill(order - 1)(1L) else pruneMin
    def prevs(n: Int): Seq[String] = (n to 1 by -1).map(i => s"prev$i")
    def on(a: String, b: String, cols: Seq[String]): String =
      cols.map(c => s"$a.$c = $b.$c").mkString(" AND ")
    val lags = (1 until order).map(i =>
      s"lag(w, $i) OVER (PARTITION BY doc_id ORDER BY pos) AS prev$i").mkString(",\n    ")
    // (table, key width, full-count source): raw k-grams, then the
    // continuation levels below the top width.
    val raws = (2 to order).map(k => (s"ng$k", k,
      s"tpt WHERE prev${k - 1} IS NOT NULL"))
    val mids = (2 until order).map(k => (s"mc$k", k, s"ng${k + 1}f"))
    val levels = raws ++ mids
    val tables = levels.map { case (t, k, src) =>
      val (keys, ctx, min) = (prevs(k - 1) :+ "w", prevs(k - 1).mkString(", "), thr(k - 2))
      val tallies =
        if (mkn) Seq(s"c >= $min AND c = 1" -> "f1", s"c >= $min AND c = 2" -> "f2",
          s"c >= $min AND c >= 3" -> "f3p")
        else Seq(s"c >= $min" -> "nf")
      val coc = if (!mkn) "" else
        s""",
           |${t}n AS (SELECT
           |  ${(1 to 4).map(i => s"CAST(coalesce(sum(CASE WHEN c = $i THEN 1 ELSE 0 END), 0) AS BIGINT) AS n$i").mkString(",\n  ")}
           |  FROM ${t}f)""".stripMargin
      s"""${t}f AS MATERIALIZED (
         |  SELECT ${keys.mkString(", ")}, CAST(count(*) AS BIGINT) AS c
         |  FROM $src GROUP BY ${keys.mkString(", ")}),
         |$t AS (SELECT * FROM ${t}f WHERE c >= $min),
         |${t}x AS (
         |  SELECT $ctx, CAST(sum(c) AS BIGINT) AS cc,
         |    ${tallies.map { case (p, n) => s"CAST(sum(CASE WHEN $p THEN 1 ELSE 0 END) AS BIGINT) AS $n" }.mkString(",\n    ")},
         |    CAST(coalesce(sum(CASE WHEN c < $min THEN c END), 0) AS BIGINT) AS pm
         |  FROM ${t}f GROUP BY $ctx
         |  HAVING sum(CASE WHEN c >= $min THEN 1 ELSE 0 END) > 0)$coc""".stripMargin
    }
    // Eq. 26 per table from its count-of-counts n1..n4, or the fallback
    // triple where a count bucket is empty or an estimate leaves [0, j]
    // (the range test only runs once every bucket is non-empty).
    val dd = if (!mkn) "" else {
      val cols = levels.map(_._1).flatMap { t =>
        def n(i: Int) = s"CAST(${t}n.n$i AS DOUBLE)"
        val y = s"(${n(1)} / (${n(1)} + 2.0 * ${n(2)}))"
        def est(j: Int) = s"$j.0 - ${j + 1}.0 * $y * ${n(j + 1)} / ${n(j)}"
        val inRange = (1 to 3).map(j => s"(${est(j)}) BETWEEN 0.0 AND $j.0")
          .mkString("\n        AND ")
        Seq(1 -> 0.5, 2 -> 1.0, 3 -> 1.5).map { case (j, fb) =>
          s"""CASE WHEN ${t}n.n1 = 0 OR ${t}n.n2 = 0 OR ${t}n.n3 = 0 THEN $fb
             |      WHEN $inRange
             |      THEN ${est(j)} ELSE $fb END AS d${j}_$t""".stripMargin
        }
      }
      s""",
         |dd AS (SELECT
         |    ${cols.mkString(",\n    ")}
         |  FROM ${levels.map(l => s"${l._1}n").mkString(" CROSS JOIN ")})""".stripMargin
    }
    // One level of the recursion: table `t`'s own (discounted) mass under
    // its context plus λ times the `lower` level.
    def level(t: String, lower: String): String = {
      val (own, lam) =
        if (mkn) (
          s"""CASE WHEN $t.c IS NOT NULL THEN
             |      (CAST($t.c AS DOUBLE) - CASE WHEN $t.c = 1 THEN dd.d1_$t
             |        WHEN $t.c = 2 THEN dd.d2_$t ELSE dd.d3_$t END) / CAST(${t}x.cc AS DOUBLE)
             |    ELSE 0.0 END""".stripMargin,
          s"dd.d1_$t * CAST(${t}x.f1 AS DOUBLE) + dd.d2_$t * CAST(${t}x.f2 AS DOUBLE)" +
            s" + dd.d3_$t * CAST(${t}x.f3p AS DOUBLE)")
        else (
          s"greatest(CAST(coalesce($t.c, 0) AS DOUBLE) - 0.75, 0.0) / CAST(${t}x.cc AS DOUBLE)",
          s"0.75 * CAST(${t}x.nf AS DOUBLE)")
      s"""CASE WHEN ${t}x.cc IS NOT NULL THEN
         |    $own
         |    + ($lam + CAST(${t}x.pm AS DOUBLE)) / CAST(${t}x.cc AS DOUBLE) * ($lower)
         |  ELSE ($lower) END""".stripMargin
    }
    val pcont = "CASE WHEN cont.n1c IS NOT NULL THEN CAST(cont.n1c AS DOUBLE) / btot.btypes" +
      " ELSE 0.5 / btot.btypes END"
    // mid(j): the continuation chain under a width-(j+1) level.
    val mid = (2 until order).scanLeft(pcont)((lower, k) => level(s"mc$k", lower))
    def top(k: Int): String = level(s"ng$k", mid(k - 2))
    val branches = (2 until order).map(k => s"WHEN spt.prev$k IS NULL THEN\n  ${top(k)}")
    val joins = levels.map { case (t, k, _) =>
      s"""LEFT JOIN $t ON ${on("spt", t, prevs(k - 1) :+ "w")}
         |  LEFT JOIN ${t}x ON ${on("spt", s"${t}x", prevs(k - 1))}""".stripMargin
    }
    s"""$trainTokens,
       |tpt AS MATERIALIZED (
       |  SELECT doc_id, pos, w,
       |    $lags
       |  FROM ttoks),
       |uni AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS c FROM ttoks GROUP BY w),
       |tot AS (SELECT CAST(sum(c) AS DOUBLE) AS total FROM uni),
       |${tables.mkString(",\n")},
       |cont AS (SELECT w, CAST(count(*) AS BIGINT) AS n1c FROM ng2f GROUP BY w),
       |btot AS (SELECT CAST(count(*) AS DOUBLE) AS btypes FROM ng2f)$dd,
       |spt AS (
       |  SELECT doc_id, pos, w,
       |    $lags
       |  FROM (${oracleTokensSql(scoreWhere)})),
       |sc AS (
       |  SELECT spt.doc_id,
       |    CAST(round(ln(CASE
       |      WHEN spt.prev1 IS NULL THEN
       |        CASE WHEN uni.c IS NOT NULL THEN CAST(uni.c AS DOUBLE) / tot.total
       |          ELSE 0.5 / tot.total END
       |      ${(branches :+ s"ELSE\n  ${top(order)}").mkString("\n      ")}
       |      END) * 1000000, 0) AS BIGINT) AS lp
       |  FROM spt
       |  LEFT JOIN uni ON spt.w = uni.w
       |  LEFT JOIN cont ON spt.w = cont.w
       |  ${joins.mkString("\n  ")}
       |  CROSS JOIN tot CROSS JOIN btot${if (mkn) " CROSS JOIN dd" else ""}),
       |agg AS (
       |  SELECT doc_id, CAST(sum(lp) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
       |  FROM sc GROUP BY 1),
       |lm AS (
       |  SELECT doc_id, n AS n_tokens,
       |    round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS logprob
       |  FROM agg)""".stripMargin
  }

  /** A Kneser-Ney family row: [[knOracleCtes]]'s per-document scores. */
  private def knOracleSql(order: Int, mkn: Boolean, trainTokens: String,
      scoreWhere: String = "TRUE", pruneMin: Seq[Long] = Nil): String =
    s"""WITH ${knOracleCtes(order, mkn, trainTokens, scoreWhere, pruneMin)}
       |SELECT doc_id, n_tokens, logprob FROM lm ORDER BY doc_id""".stripMargin

  /** WordPiece-objective merge-loop replay — [[bpeChainSql]]'s structure
    * with the likelihood argmax: per round, symbol counts from the
    * current segmentation join the pair counts, candidates below the
    * support floor drop, and the winner maximizes cnt/(c_left·c_right)
    * (exact-integer-valued doubles under one IEEE divide — both engines
    * pick the same pair; ties break on the smaller pair). A corpus that
    * runs dry before the requested merges (no candidate at the floor)
    * makes wordpieceTrainMerges stop EARLY while this chain's scalar
    * subqueries would go NULL — so each round's winner is wrapped in
    * coalesce(..., error(...)): the oracle fails LOUDLY with the
    * mismatch's cause instead of NULL-propagating a silently shorter
    * merge list (the fixtures sustain all rounds; the error is the
    * tripwire for anyone re-pointing the query at a thinner corpus). */
  private def wordpieceChainSql(merges: Int, minPairCount: Long): String = {
    val vocab =
      """vocab AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents)
        |  WHERE length(word) >= 2 GROUP BY 1),
        |v0 AS MATERIALIZED (
        |  SELECT word, freq, array_to_string(
        |    list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)),
        |    '  ') AS rep
        |  FROM vocab)""".stripMargin
    val rounds = (1 to merges).map { t =>
      s"""qx$t AS (SELECT freq, s, unnest(generate_series(1, len(s) - 1)) AS i
         |  FROM (SELECT freq, string_split(rep, '  ') AS s FROM v${t - 1})),
         |q$t AS (SELECT s[i] AS l, s[i + 1] AS r2, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM qx$t GROUP BY 1, 2),
         |yx$t AS (SELECT freq, unnest(string_split(rep, '  ')) AS sym FROM v${t - 1}),
         |y$t AS MATERIALIZED (
         |  SELECT sym, CAST(sum(freq) AS BIGINT) AS c FROM yx$t GROUP BY 1),
         |n$t AS MATERIALIZED (
         |  SELECT q.l, q.r2, q.cnt, cl.c AS lc, cr.c AS rc
         |  FROM q$t q JOIN y$t cl ON q.l = cl.sym JOIN y$t cr ON q.r2 = cr.sym
         |  WHERE q.cnt >= $minPairCount
         |  ORDER BY CAST(q.cnt AS DOUBLE) / (CAST(cl.c AS DOUBLE) * CAST(cr.c AS DOUBLE)) DESC,
         |    q.l, q.r2
         |  LIMIT 1),
         |v$t AS MATERIALIZED (
         |  SELECT word, freq, trim(replace(' ' || rep || ' ',
         |    coalesce((SELECT ' ' || l || '  ' || r2 || ' ' FROM n$t),
         |      error('wordpiece oracle: corpus ran dry at merge $t of $merges (no pair >= minPairCount $minPairCount) — the trainer stops early here; gate the query on a corpus that sustains all rounds')),
         |    coalesce((SELECT ' ' || l || r2 || ' ' FROM n$t),
         |      error('wordpiece oracle: corpus ran dry at merge $t')))) AS rep
         |  FROM v${t - 1})""".stripMargin
    }.mkString(",\n")
    s"WITH $vocab,\n$rounds"
  }

  /** The logistic-GD training chain, shared by q_lr_train and q_lr_filter:
    * feature CTE `f` (rounded to 1e-6, mirroring
    * [[graft.functions.QualityModel.docFeatures]] term by term), zero
    * weights `s0`, then per step t: scoring pass `p{t}` (the z fold in
    * declared feature order, bias first — Spark's fold order verbatim),
    * fixed-point gradient aggregate `g{t}`, weight update `s{t}` re-rounded
    * to 1e-6. Generated by the same loop for any step count so the two
    * engines can never drift on a hand-copied step. */
  private val lrFeatureNames: Seq[String] = Seq("mwl", "alpha", "digit", "loglen")
  /** The rounded raw-feature + label projection, reusable with any split
    * predicate (q_lr_holdout derives its eval CTE from the same text). */
  private def lrFeatureSelectSql(cte: String, where: String): String =
    s"""$cte AS (
       |  SELECT doc_id,
       |    floor(CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
       |      / CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) / 10.0 * 1000000.0 + 0.5) / 1000000.0 AS mwl,
       |    floor(CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE)
       |      / CAST(greatest(length(text), 1) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS alpha,
       |    floor(CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE)
       |      / CAST(greatest(length(text), 1) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS digit,
       |    floor(ln(1.0 + CAST(n_chars AS DOUBLE)) / 10.0 * 1000000.0 + 0.5) / 1000000.0 AS loglen,
       |    CASE WHEN n_chars >= 300 THEN 1.0 ELSE 0.0 END AS y
       |  FROM documents$where)""".stripMargin
  private def lrChainSql(steps: Int, lr: String, where: String = ""): String = {
    val ns = lrFeatureNames
    val z = "bias + " + ns.map(n => s"w_$n * $n").mkString(" + ")
    val f0 = lrFeatureSelectSql("f0", where)
    // The z-score scaler, mirroring logisticTrain: fixed-point sums from
    // ONE pass, mean/std rounded to 1e-6, variance by E[x^2] - mean^2,
    // zero-variance features standardized with a stand-in std of 1.
    val scaler =
      s"""st AS (SELECT count(*) AS n,
         |  ${ns.flatMap(n => Seq(
             s"sum(CAST(floor($n * 1000000.0 + 0.5) AS BIGINT)) AS sx_$n",
             s"sum(CAST(floor(($n * $n) * 1000000.0 + 0.5) AS BIGINT)) AS sxx_$n"))
               .mkString(",\n  ")}
         |  FROM f0),
         |sm AS (SELECT n,
         |  ${ns.flatMap(n => Seq(
             s"floor(CAST(sx_$n AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS mean_$n",
             s"sxx_$n")).mkString(",\n  ")}
         |  FROM st),
         |sc AS (SELECT
         |  ${ns.flatMap(n => Seq(
             s"mean_$n",
             s"floor(sqrt(greatest(floor((CAST(sxx_$n AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) - mean_$n * mean_$n) * 1000000.0 + 0.5) / 1000000.0, 0.0)) * 1000000.0 + 0.5) / 1000000.0 AS std_$n"))
               .mkString(",\n  ")}
         |  FROM sm),
         |f AS (SELECT doc_id,
         |  ${ns.map(n =>
             s"floor(($n - mean_$n) / (CASE WHEN std_$n < 0.000001 THEN 1.0 ELSE std_$n END) * 1000000.0 + 0.5) / 1000000.0 AS $n")
               .mkString(",\n  ")},
         |  y FROM f0 CROSS JOIN sc)""".stripMargin
    val s0 = "s0 AS (SELECT " +
      (ns.map(n => s"0.0 AS w_$n") :+ "0.0 AS bias").mkString(", ") + ")"
    val stepCtes = (1 to steps).map { t =>
      val prev = s"s${t - 1}"
      s"""p$t AS (SELECT f.*, ${ns.map(n => s"w_$n").mkString(", ")}, bias,
         |  1.0 / (1.0 + exp(-($z))) AS p FROM f CROSS JOIN $prev),
         |g$t AS (SELECT count(*) AS n,
         |  ${ns.map(n => s"max(w_$n) AS w_$n").mkString(", ")}, max(bias) AS bias,
         |  ${ns.map(n =>
             s"sum(CAST(floor(((p - y) * $n) * 1000000.0 + 0.5) AS BIGINT)) AS g_$n")
               .mkString(",\n  ")},
         |  sum(CAST(floor((p - y) * 1000000.0 + 0.5) AS BIGINT)) AS g_bias FROM p$t),
         |s$t AS (SELECT
         |  ${ns.map(n =>
             s"floor((w_$n - $lr * (CAST(g_$n AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0))) * 1000000.0 + 0.5) / 1000000.0 AS w_$n")
               .mkString(",\n  ")},
         |  floor((bias - $lr * (CAST(g_bias AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0))) * 1000000.0 + 0.5) / 1000000.0 AS bias
         |  FROM g$t)""".stripMargin
    }.mkString(",\n")
    s"WITH $f0,\n$scaler,\n$s0,\n$stepCtes"
  }
  private val lrZFinal: String =
    "bias + " + lrFeatureNames.map(n => s"w_$n * $n").mkString(" + ")

  def oracleSql: Map[String, String] = Map(
    "q_clean_rows" -> withCtes(
      """SELECT row_number, trim(email) AS email, trim(first_name) AS first_name,
        |       trim(last_name) AS last_name, trim(company) AS company
        |FROM input
        |WHERE trim(email) <> '' OR trim(first_name) <> ''
        |   OR trim(last_name) <> '' OR trim(company) <> ''
        |ORDER BY row_number""".stripMargin),

    "q_norm_email" -> withCtes(
      "SELECT row_number, lower(trim(email)) AS norm_email FROM input ORDER BY row_number"),

    "q_row_hash" -> withCtes(
      s"SELECT row_number, $rowHashSql AS row_hash FROM input ORDER BY row_number"),

    "q_dup_emails" -> withCtes(
      """SELECT lower(trim(email)) AS norm_email, CAST(count(*) AS BIGINT) AS cnt
        |FROM input WHERE trim(email) <> ''
        |GROUP BY 1 HAVING count(*) > 1
        |ORDER BY norm_email""".stripMargin),

    "q_existing_emails" -> withCtes(
      """SELECT contact_email FROM existing
        |WHERE contact_email IN (
        |  SELECT DISTINCT lower(trim(email)) FROM input WHERE trim(email) <> '')
        |ORDER BY contact_email""".stripMargin),

    "q_classify" -> withCtes(
      """SELECT row_number, norm_email, staging_status, issue_type, issue_message
        |FROM classified ORDER BY row_number""".stripMargin),

    // Keyed classify: dup/existing sets scoped per (job_id) with per-job
    // tenants — the oracle twin of Validate.classifyKeyed's joins
    "q_classify_keyed" ->
      s"""WITH $inputCte,
         |$contactsCte,
         |ki AS (
         |  SELECT row_number, CAST(1 + row_number % 2 AS INTEGER) AS job_id,
         |         email, first_name, last_name, company
         |  FROM input),
         |ju AS (SELECT 1 AS job_id, 'u1' AS job_user_id
         |       UNION ALL SELECT 2, 'u2'),
         |kdups AS (
         |  SELECT job_id, lower(trim(email)) AS ne FROM ki
         |  WHERE trim(email) <> '' GROUP BY 1, 2 HAVING count(*) > 1),
         |kexisting AS (
         |  SELECT DISTINCT ju.job_id, c.contact_email
         |  FROM contacts c JOIN ju ON c.contacts_user_id = ju.job_user_id),
         |kout AS (
         |  SELECT ki.job_id, ki.row_number, lower(trim(ki.email)) AS norm_email,
         |    CASE WHEN trim(ki.email) = '' THEN 'MISSING_REQUIRED_FIELD'
         |         WHEN trim(ki.first_name) = '' THEN 'MISSING_REQUIRED_FIELD'
         |         WHEN trim(ki.last_name) = '' THEN 'MISSING_REQUIRED_FIELD'
         |         WHEN trim(ki.company) = '' THEN 'MISSING_REQUIRED_FIELD'
         |         WHEN NOT regexp_matches(trim(ki.email), '$emailRegexSql') THEN 'INVALID_EMAIL'
         |         WHEN d.ne IS NOT NULL THEN 'DUPLICATE_EMAIL'
         |         WHEN e.contact_email IS NOT NULL THEN 'EXISTING_EMAIL'
         |         ELSE NULL END AS issue_type,
         |    CASE WHEN trim(ki.email) = '' THEN 'Missing required field: email'
         |         WHEN trim(ki.first_name) = '' THEN 'Missing required field: first_name'
         |         WHEN trim(ki.last_name) = '' THEN 'Missing required field: last_name'
         |         WHEN trim(ki.company) = '' THEN 'Missing required field: company'
         |         WHEN NOT regexp_matches(trim(ki.email), '$emailRegexSql') THEN 'Invalid email format: ' || trim(ki.email)
         |         WHEN d.ne IS NOT NULL THEN 'Duplicate email in CSV: ' || trim(ki.email)
         |         WHEN e.contact_email IS NOT NULL THEN 'Email already exists in contacts: ' || trim(ki.email)
         |         ELSE NULL END AS issue_message
         |  FROM ki
         |  LEFT JOIN kdups d
         |    ON ki.job_id = d.job_id AND lower(trim(ki.email)) = d.ne
         |  LEFT JOIN kexisting e
         |    ON ki.job_id = e.job_id AND lower(trim(ki.email)) = e.contact_email)
         |SELECT job_id, row_number, norm_email,
         |  CASE WHEN issue_type IS NULL THEN 'READY' ELSE 'ISSUE' END AS staging_status,
         |  issue_type, issue_message
         |FROM kout ORDER BY job_id, row_number""".stripMargin,

    "q_idempotent_skip" -> withCtes(
      s""", hashes AS (SELECT row_number, $rowHashSql AS h FROM input)
         |SELECT row_number FROM hashes
         |WHERE h NOT IN (SELECT h FROM hashes WHERE row_number % 3 = 0)
         |ORDER BY row_number""".stripMargin),

    "q_issues" -> withCtes(
      """, flagged AS (
        |  SELECT *, CASE WHEN norm_email <> '' THEN norm_email
        |                 ELSE 'row_' || CAST(row_number AS VARCHAR) END AS issue_key
        |  FROM classified WHERE issue_type IS NOT NULL)
        |SELECT job_id AS issues_job_id, issue_type, issue_key,
        |       arg_min(issue_message, row_number) AS issue_description
        |FROM flagged GROUP BY 1, 2, 3
        |ORDER BY issue_type, issue_key""".stripMargin),

    "q_issue_items" -> withCtes(
      """, flagged AS (
        |  SELECT *, CASE WHEN norm_email <> '' THEN norm_email
        |                 ELSE 'row_' || CAST(row_number AS VARCHAR) END AS issue_key
        |  FROM classified WHERE issue_type IS NOT NULL)
        |SELECT job_id AS issues_job_id, issue_type, issue_key, row_number AS item_staging_id
        |FROM flagged
        |ORDER BY issue_type, issue_key, item_staging_id""".stripMargin),

    "q_status_counts" -> withCtes(
      """SELECT staging_status, CAST(count(*) AS BIGINT) AS n
        |FROM classified GROUP BY 1 ORDER BY staging_status""".stripMargin),

    "q_job_counters" -> withCtes(
      """, s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS total_rows,
        |         CAST(coalesce(sum(CASE WHEN staging_status = 'READY' THEN 1 ELSE 0 END), 0) AS BIGINT) AS ready_rows,
        |         CAST(coalesce(sum(CASE WHEN staging_status = 'ISSUE' THEN 1 ELSE 0 END), 0) AS BIGINT) AS issue_rows,
        |         CAST(coalesce(sum(CASE WHEN staging_status = 'DISCARD' THEN 1 ELSE 0 END), 0) AS BIGINT) AS discard_rows,
        |         CAST(coalesce(sum(CASE WHEN staging_status = 'SUCCESS' THEN 1 ELSE 0 END), 0) AS BIGINT) AS success_rows
        |  FROM classified),
        |i AS (
        |  SELECT CAST(count(*) AS BIGINT) AS total_issues,
        |         CAST(count(*) AS BIGINT) AS unresolved_issues
        |  FROM (
        |    SELECT DISTINCT job_id, issue_type,
        |           CASE WHEN norm_email <> '' THEN norm_email
        |                ELSE 'row_' || CAST(row_number AS VARCHAR) END AS issue_key
        |    FROM classified WHERE issue_type IS NOT NULL))
        |SELECT * FROM s, i""".stripMargin),

    "q_reprocess_resolution" -> withCtes(
      s""", staging0 AS (
         |  SELECT row_number AS staging_id, job_id, trim(email) AS staging_email,
         |         trim(first_name) AS staging_first_name, trim(last_name) AS staging_last_name,
         |         trim(company) AS staging_company, staging_status, issue_type AS issue_type0
         |  FROM classified),
         |edited AS (
         |  SELECT staging_id, job_id,
         |    CASE WHEN issue_type0 = 'INVALID_EMAIL'
         |         THEN 'fixed' || CAST(staging_id AS VARCHAR) || '@example.com'
         |         ELSE staging_email END AS email,
         |    staging_first_name AS first_name, staging_last_name AS last_name,
         |    staging_company AS company, staging_status
         |  FROM staging0),
         |edited2 AS (
         |  SELECT *, CASE WHEN email = '' THEN 'DISCARD' ELSE staging_status END AS status1
         |  FROM edited),
         |working AS (SELECT * FROM edited2 WHERE status1 <> 'DISCARD'),
         |dups2 AS (
         |  SELECT lower(trim(email)) AS ne FROM working
         |  WHERE trim(email) <> '' GROUP BY 1 HAVING count(*) > 1),
         |reclass AS (
         |  SELECT w.staging_id, lower(trim(w.email)) AS norm_email2,
         |    CASE WHEN trim(w.email) = '' THEN 'MISSING_REQUIRED_FIELD'
         |         WHEN trim(w.first_name) = '' THEN 'MISSING_REQUIRED_FIELD'
         |         WHEN trim(w.last_name) = '' THEN 'MISSING_REQUIRED_FIELD'
         |         WHEN trim(w.company) = '' THEN 'MISSING_REQUIRED_FIELD'
         |         WHEN NOT regexp_matches(trim(w.email), '$emailRegexSql') THEN 'INVALID_EMAIL'
         |         WHEN d.ne IS NOT NULL THEN 'DUPLICATE_EMAIL'
         |         WHEN e.contact_email IS NOT NULL THEN 'EXISTING_EMAIL'
         |         ELSE NULL END AS issue_type2
         |  FROM working w
         |  LEFT JOIN dups2 d ON lower(trim(w.email)) = d.ne
         |  LEFT JOIN existing e ON lower(trim(w.email)) = e.contact_email),
         |status_all AS (
         |  SELECT e2.staging_id,
         |         CASE WHEN r.staging_id IS NULL THEN 'DISCARD'
         |              WHEN r.issue_type2 IS NULL THEN 'READY'
         |              ELSE 'ISSUE' END AS staging_status
         |  FROM edited2 e2 LEFT JOIN reclass r ON e2.staging_id = r.staging_id),
         |flagged0 AS (
         |  SELECT *, CASE WHEN norm_email <> '' THEN norm_email
         |                 ELSE 'row_' || CAST(row_number AS VARCHAR) END AS issue_key
         |  FROM classified WHERE issue_type IS NOT NULL),
         |flagged2 AS (
         |  SELECT *, CASE WHEN norm_email2 <> '' THEN norm_email2
         |                 ELSE 'staging_' || CAST(staging_id AS VARCHAR) END AS issue_key
         |  FROM reclass WHERE issue_type2 IS NOT NULL),
         |issues_all AS (
         |  SELECT issue_type, issue_key FROM flagged0
         |  UNION
         |  SELECT issue_type2, issue_key FROM flagged2),
         |items_all AS (
         |  SELECT issue_type, issue_key, row_number AS item_staging_id FROM flagged0
         |  UNION
         |  SELECT issue_type2, issue_key, staging_id FROM flagged2)
         |SELECT i.issue_type, i.issue_key,
         |  CAST(coalesce(sum(CASE WHEN sa.staging_status = 'ISSUE' THEN 1 ELSE 0 END), 0) AS BIGINT) AS unresolved_items,
         |  coalesce(sum(CASE WHEN sa.staging_status = 'ISSUE' THEN 1 ELSE 0 END), 0) = 0 AS issue_resolved
         |FROM issues_all i
         |LEFT JOIN items_all it ON i.issue_type = it.issue_type AND i.issue_key = it.issue_key
         |LEFT JOIN status_all sa ON it.item_staging_id = sa.staging_id
         |GROUP BY 1, 2
         |ORDER BY i.issue_type, i.issue_key""".stripMargin),

    "q_text_stats" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_words,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]{1,3}')) AS BIGINT) AS n_subwords,
        |  round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |        / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_langid" ->
      """WITH scored AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), w -> w IN ('the','a','of','and','to'))) AS BIGINT) AS hits_en,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), w -> w IN ('der','die','das','und','ist'))) AS BIGINT) AS hits_de,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), w -> w IN ('el','los','las','una','y'))) AS BIGINT) AS hits_es,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), w -> w IN ('le','les','et','est','dans'))) AS BIGINT) AS hits_fr,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), w -> w IN ('的','是','了','和','在'))) AS BIGINT) AS hits_zh
        |  FROM documents)
        |SELECT doc_id, hits_en, hits_de, hits_es, hits_fr, hits_zh,
        |  CASE
        |    WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
        |    WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
        |    WHEN hits_es >= hits_en AND hits_es >= hits_de AND hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
        |    WHEN hits_fr >= hits_en AND hits_fr >= hits_de AND hits_fr >= hits_es AND hits_fr >= hits_zh THEN 'fr'
        |    ELSE 'zh' END AS predicted_lang
        |FROM scored ORDER BY doc_id""".stripMargin,

    "q_text_quality" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS n_words,
        |    round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), w -> w IN ('the','a','of','and','to'))) AS DOUBLE) AS stop_hits
        |  FROM documents)
        |SELECT doc_id,
        |  round(0.4 * (least(n_words, 100.0) / 100.0)
        |      + 0.3 * (1.0 - punct_ratio)
        |      + 0.3 * least(stop_hits / greatest(n_words, 1.0) * 5.0, 1.0), 6) AS quality
        |FROM base ORDER BY doc_id""".stripMargin,

    "q_text_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win || ' ' || lead(w, 3) OVER win AS shingle
        |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |fp AS (SELECT doc_id, min(md5(shingle)) AS fp FROM sh WHERE shingle IS NOT NULL GROUP BY 1)
        |SELECT d.doc_id, coalesce(fp.fp, md5(d.text)) AS fingerprint
        |FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "q_events_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev IS NULL OR date_diff('microsecond', prev, ts) > 1800000000
        |                 THEN 1 ELSE 0 END AS new_sess FROM e),
        |g AS (
        |  SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM f)
        |SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end
        |FROM g GROUP BY 1, 2 ORDER BY user_id, session_id""".stripMargin,

    "q_events_session_window" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |f AS (
        |  SELECT *, CASE WHEN prev IS NULL OR date_diff('microsecond', prev, ts) >= 1800000000
        |                 THEN 1 ELSE 0 END AS new_sess FROM e),
        |g AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                 ROWS UNBOUNDED PRECEDING) AS sid FROM f)
        |SELECT user_id, min(ts) AS session_start,
        |       max(ts) + INTERVAL 30 MINUTE AS session_end,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q_stream_windowed" ->
      """SELECT date_trunc('hour', ts) AS window_start,
        |       date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
        |       event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value
        |FROM events GROUP BY 1, 2, 3
        |ORDER BY window_start, event_type""".stripMargin,

    "q_profile_sketch" ->
      graft.functions.Profile.oracleSql("documents",
        Seq("doc_id", "lang", "n_chars", "source", "text")),

    "q_stream_distinct" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS window_start, event_type,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT AS hv
        |  FROM events WHERE user_id IS NOT NULL),
        |b AS (
        |  SELECT window_start, event_type,
        |    CAST(hv // 1125899906842624 AS BIGINT) AS bucket,
        |    CAST(hv % 1125899906842624 AS BIGINT) AS w
        |  FROM h),
        |r AS (
        |  SELECT window_start, event_type, bucket,
        |    max(CASE WHEN w = 0 THEN 51 ELSE 51 - length(bin(w)) END) AS rho
        |  FROM b GROUP BY 1, 2, 3),
        |agg AS (
        |  SELECT window_start, event_type,
        |    CAST(sum(CAST(1 AS BIGINT) << (51 - rho)) AS BIGINT)
        |      + (1024 - count(*)) * (CAST(1 AS BIGINT) << 51) AS s_scaled,
        |    1024 - count(*) + CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_buckets
        |  FROM r GROUP BY 1, 2),
        |est AS (
        |  SELECT window_start, event_type, s_scaled, zero_buckets,
        |    (0.7213 / (1 + 1.079 / 1024.0)) * 1024.0 * 1024.0 * 2251799813685248.0
        |      / CAST(s_scaled AS DOUBLE) AS raw_est
        |  FROM agg)
        |SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
        |  event_type,
        |  round(CASE WHEN raw_est <= 2.5 * 1024.0 AND zero_buckets > 0
        |             THEN 1024.0 * ln(1024.0 / CAST(zero_buckets AS DOUBLE))
        |             ELSE raw_est END, 4) AS approx_users,
        |  s_scaled, zero_buckets
        |FROM est ORDER BY window_start, event_type""".stripMargin,

    "q_stream_attribution" ->
      """WITH v AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'),
        |c AS (
        |  SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'click')
        |SELECT v.user_id, v.ts AS view_ts, c.ts AS click_ts,
        |       v.event_id AS view_event_id, c.event_id AS click_event_id,
        |       c.value AS click_value
        |FROM v JOIN c ON v.user_id = c.user_id
        |  AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 2 HOUR
        |ORDER BY view_event_id, click_event_id""".stripMargin,

    "q_events_topk_users" ->
      """WITH agg AS (
        |  SELECT user_id, sum(CAST(value AS DECIMAL(18,6))) AS tv,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY tv DESC, user_id) AS BIGINT) AS rnk
        |  FROM agg)
        |SELECT user_id, round(CAST(tv AS DOUBLE), 6) AS total_value, n, rnk
        |FROM ranked WHERE rnk <= 10 ORDER BY rnk""".stripMargin,

    "q_json_parse" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    "q_asof_join" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |purch AS (
        |  SELECT user_id, ts, value FROM events WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts,
        |  coalesce(p.ts, TIMESTAMP '1970-01-01 00:00:00') AS purchase_ts,
        |  coalesce(p.value, -1.0) AS purchase_value
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts
        |ORDER BY c.event_id""".stripMargin,

    "q_gap_fill" ->
      """WITH hrs AS (
        |  SELECT make_timestamp(1704067200000000 + CAST(h AS BIGINT) * 3600000000) AS ts
        |  FROM generate_series(0, 719) t(h)),
        |spine AS (
        |  SELECT ts, CAST(u AS BIGINT) AS user_id
        |  FROM hrs CROSS JOIN generate_series(0, 4) g(u)),
        |ev AS (SELECT user_id, ts, value FROM events WHERE user_id < 5)
        |SELECT s.user_id, s.ts, coalesce(e.value, -1.0) AS last_value
        |FROM spine s ASOF LEFT JOIN ev e
        |  ON s.user_id = e.user_id AND s.ts >= e.ts
        |ORDER BY s.user_id, s.ts""".stripMargin,

    "q_range_join" ->
      """WITH iv AS (
        |  SELECT CAST(i AS BIGINT) AS window_id,
        |         1704099600000000 + CAST(i AS BIGINT) * 86400000000 AS ws,
        |         1704099600000000 + CAST(i AS BIGINT) * 86400000000 + 21600000000 AS we
        |  FROM generate_series(0, 29) t(i)),
        |pts AS (SELECT epoch_us(ts) AS us, value FROM events),
        |j AS (
        |  SELECT window_id, CAST(count(*) AS BIGINT) AS n_events,
        |         sum(CAST(value AS DECIMAL(18,6))) AS tv
        |  FROM pts JOIN iv ON us >= ws AND us < we GROUP BY 1)
        |SELECT iv.window_id,
        |  CAST(coalesce(j.n_events, 0) AS BIGINT) AS n_events,
        |  round(CAST(coalesce(j.tv, 0) AS DOUBLE), 6) AS total_value
        |FROM iv LEFT JOIN j ON iv.window_id = j.window_id
        |ORDER BY iv.window_id""".stripMargin,

    "q_ngram_freq" ->
      s"""WITH $shingleCtes
         |SELECT shingle, CAST(count(*) AS BIGINT) AS doc_freq
         |FROM sh GROUP BY 1
         |ORDER BY doc_freq DESC, shingle
         |LIMIT 20""".stripMargin,

    "q_langid_trigram" ->
      """WITH pos3 AS (
        |  SELECT doc_id, lang, text,
        |    unnest(generate_series(1, greatest(length(text) - 2, 0))) AS i
        |  FROM documents),
        |tris AS (SELECT doc_id, lang, substr(text, i, 3) AS tri FROM pos3),
        |counts AS (
        |  SELECT tri,
        |    CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS c_en,
        |    CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS c_de,
        |    CAST(sum(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS c_es,
        |    CAST(sum(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS c_fr,
        |    CAST(sum(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS c_zh
        |  FROM tris GROUP BY tri),
        |tots AS (
        |  SELECT CAST(sum(c_en) AS BIGINT) AS tot_en,
        |    CAST(sum(c_de) AS BIGINT) AS tot_de,
        |    CAST(sum(c_es) AS BIGINT) AS tot_es,
        |    CAST(sum(c_fr) AS BIGINT) AS tot_fr,
        |    CAST(sum(c_zh) AS BIGINT) AS tot_zh,
        |    CAST(count(*) AS BIGINT) AS v
        |  FROM counts),
        |sc AS (
        |  SELECT tris.doc_id,
        |    CAST(round(ln((CAST(c_en AS DOUBLE) + 1.0) / (CAST(tot_en AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000, 0) AS BIGINT) AS s_en,
        |    CAST(round(ln((CAST(c_de AS DOUBLE) + 1.0) / (CAST(tot_de AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000, 0) AS BIGINT) AS s_de,
        |    CAST(round(ln((CAST(c_es AS DOUBLE) + 1.0) / (CAST(tot_es AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000, 0) AS BIGINT) AS s_es,
        |    CAST(round(ln((CAST(c_fr AS DOUBLE) + 1.0) / (CAST(tot_fr AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000, 0) AS BIGINT) AS s_fr,
        |    CAST(round(ln((CAST(c_zh AS DOUBLE) + 1.0) / (CAST(tot_zh AS DOUBLE) + CAST(v AS DOUBLE))) * 1000000, 0) AS BIGINT) AS s_zh
        |  FROM tris JOIN counts USING (tri) CROSS JOIN tots),
        |perdoc AS (
        |  SELECT doc_id, CAST(sum(s_en) AS BIGINT) AS score_en,
        |    CAST(sum(s_de) AS BIGINT) AS score_de,
        |    CAST(sum(s_es) AS BIGINT) AS score_es,
        |    CAST(sum(s_fr) AS BIGINT) AS score_fr,
        |    CAST(sum(s_zh) AS BIGINT) AS score_zh
        |  FROM sc GROUP BY doc_id),
        |ws AS (
        |  SELECT d.doc_id, d.lang,
        |    coalesce(p.score_en, CAST(0 AS BIGINT)) AS score_en,
        |    coalesce(p.score_de, CAST(0 AS BIGINT)) AS score_de,
        |    coalesce(p.score_es, CAST(0 AS BIGINT)) AS score_es,
        |    coalesce(p.score_fr, CAST(0 AS BIGINT)) AS score_fr,
        |    coalesce(p.score_zh, CAST(0 AS BIGINT)) AS score_zh
        |  FROM documents d LEFT JOIN perdoc p USING (doc_id))
        |SELECT doc_id, lang,
        |  CASE
        |    WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
        |    WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
        |    WHEN score_es >= score_en AND score_es >= score_de AND score_es >= score_fr AND score_es >= score_zh THEN 'es'
        |    WHEN score_fr >= score_en AND score_fr >= score_de AND score_fr >= score_es AND score_fr >= score_zh THEN 'fr'
        |    ELSE 'zh' END AS predicted_lang,
        |  lang = CASE
        |    WHEN score_en >= score_de AND score_en >= score_es AND score_en >= score_fr AND score_en >= score_zh THEN 'en'
        |    WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr AND score_de >= score_zh THEN 'de'
        |    WHEN score_es >= score_en AND score_es >= score_de AND score_es >= score_fr AND score_es >= score_zh THEN 'es'
        |    WHEN score_fr >= score_en AND score_fr >= score_de AND score_fr >= score_es AND score_fr >= score_zh THEN 'fr'
        |    ELSE 'zh' END AS is_match
        |FROM ws ORDER BY doc_id""".stripMargin,

    "q_bigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents),
        |pt AS (
        |  SELECT doc_id, pos, w,
        |    lag(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM toks),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM toks GROUP BY w),
        |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS total FROM uni),
        |big AS (
        |  SELECT prev, w, CAST(count(*) AS BIGINT) AS c2
        |  FROM pt WHERE prev IS NOT NULL GROUP BY 1, 2),
        |ctx AS (SELECT prev, CAST(sum(c2) AS BIGINT) AS cc FROM big GROUP BY prev),
        |sc AS (
        |  SELECT pt.doc_id,
        |    CAST(round(ln(CASE WHEN pt.prev IS NULL
        |      THEN CAST(uni.c1 AS DOUBLE) / tot.total
        |      ELSE 0.7 * (CAST(big.c2 AS DOUBLE) / CAST(ctx.cc AS DOUBLE))
        |         + 0.3 * (CAST(uni.c1 AS DOUBLE) / tot.total) END) * 1000000, 0)
        |      AS BIGINT) AS lp
        |  FROM pt JOIN uni USING (w) CROSS JOIN tot
        |  LEFT JOIN big ON pt.prev = big.prev AND pt.w = big.w
        |  LEFT JOIN ctx ON pt.prev = ctx.prev),
        |agg AS (
        |  SELECT doc_id, CAST(sum(lp) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM sc GROUP BY 1)
        |SELECT doc_id, n AS n_tokens,
        |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS logprob
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q_trigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents),
        |pt AS (
        |  SELECT doc_id, pos, w,
        |    lag(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS prev1,
        |    lag(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS prev2
        |  FROM toks),
        |uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM toks GROUP BY w),
        |tot AS (SELECT CAST(sum(c1) AS DOUBLE) AS total FROM uni),
        |big AS (
        |  SELECT prev1, w, CAST(count(*) AS BIGINT) AS c2
        |  FROM pt WHERE prev1 IS NOT NULL GROUP BY 1, 2),
        |ctx2 AS (SELECT prev1, CAST(sum(c2) AS BIGINT) AS cc2 FROM big GROUP BY prev1),
        |tri AS (
        |  SELECT prev2, prev1, w, CAST(count(*) AS BIGINT) AS c3
        |  FROM pt WHERE prev2 IS NOT NULL GROUP BY 1, 2, 3),
        |ctx3 AS (
        |  SELECT prev2, prev1, CAST(sum(c3) AS BIGINT) AS cc3
        |  FROM tri GROUP BY prev2, prev1),
        |sc AS (
        |  SELECT pt.doc_id,
        |    CAST(round(ln(CASE
        |      WHEN pt.prev1 IS NULL THEN CAST(uni.c1 AS DOUBLE) / tot.total
        |      WHEN pt.prev2 IS NULL THEN
        |        0.7 * (CAST(big.c2 AS DOUBLE) / CAST(ctx2.cc2 AS DOUBLE))
        |        + 0.3 * (CAST(uni.c1 AS DOUBLE) / tot.total)
        |      ELSE
        |        0.5 * (CAST(tri.c3 AS DOUBLE) / CAST(ctx3.cc3 AS DOUBLE))
        |        + 0.3 * (CAST(big.c2 AS DOUBLE) / CAST(ctx2.cc2 AS DOUBLE))
        |        + 0.2 * (CAST(uni.c1 AS DOUBLE) / tot.total) END) * 1000000, 0)
        |      AS BIGINT) AS lp
        |  FROM pt JOIN uni USING (w) CROSS JOIN tot
        |  LEFT JOIN big ON pt.prev1 = big.prev1 AND pt.w = big.w
        |  LEFT JOIN ctx2 ON pt.prev1 = ctx2.prev1
        |  LEFT JOIN tri ON pt.prev2 = tri.prev2 AND pt.prev1 = tri.prev1 AND pt.w = tri.w
        |  LEFT JOIN ctx3 ON pt.prev2 = ctx3.prev2 AND pt.prev1 = ctx3.prev1),
        |agg AS (
        |  SELECT doc_id, CAST(sum(lp) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM sc GROUP BY 1)
        |SELECT doc_id, n AS n_tokens,
        |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS logprob
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
        |freq AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
        |fixedt AS (
        |  SELECT doc_id,
        |    CAST(round(ln(CAST(cnt AS DOUBLE) / total) * 1000000, 0) AS BIGINT) AS lp
        |  FROM toks JOIN freq USING (w) CROSS JOIN tot),
        |agg AS (
        |  SELECT doc_id, CAST(sum(lp) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM fixedt GROUP BY 1)
        |SELECT doc_id, n AS n_tokens,
        |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0, 6) AS logprob
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q_doc_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |         CAST(count(*) AS BIGINT) AS n_distinct, max(c) AS top_c
        |  FROM wc GROUP BY 1)
        |SELECT doc_id, n_words, n_distinct,
        |  round(1.0 - CAST(n_distinct AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS dup_frac,
        |  round(CAST(top_c AS DOUBLE) / CAST(n_words AS DOUBLE), 6) AS top_word_frac
        |FROM agg ORDER BY doc_id""".stripMargin,

    "q_filter_report" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
        |rep AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
        |    round(CAST(max(c) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS top_word_frac
        |  FROM wc GROUP BY 1),
        |p AS (
        |  SELECT doc_id,
        |    round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS DOUBLE)
        |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio
        |  FROM documents),
        |f AS (
        |  SELECT rep.doc_id, n_words, punct_ratio, top_word_frac,
        |    n_words < 30 AS too_short,
        |    punct_ratio > 0.2 AS high_punct,
        |    top_word_frac > 0.2 AS repetitive
        |  FROM rep JOIN p ON rep.doc_id = p.doc_id)
        |SELECT doc_id, n_words, punct_ratio, top_word_frac,
        |  (NOT too_short AND NOT high_punct AND NOT repetitive) AS keep,
        |  concat_ws(',',
        |    CASE WHEN too_short THEN 'too_short' END,
        |    CASE WHEN high_punct THEN 'high_punct' END,
        |    CASE WHEN repetitive THEN 'repetitive' END) AS reasons
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_tfidf_top" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
        |docfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, d.df,
        |    round(CAST(tf.tf AS DOUBLE) * ln((n.n_docs + 1.0) / (CAST(d.df AS DOUBLE) + 1.0)), 6) AS tfidf
        |  FROM tf JOIN docfreq d ON tf.term = d.term CROSS JOIN n),
        |ranked AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS BIGINT) AS rnk
        |  FROM scored)
        |SELECT doc_id, term, tf, df, tfidf, rnk FROM ranked WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,

    "q_bm25_topk" -> bm25OracleSql,

    // The persisted index is contractually row-identical to inline BM25.
    "q_bm25_persisted" -> bm25OracleSql,

    // Pinned snapshot == fresh path == inline: the FULL-corpus oracle.
    "q_bm25_pinned" -> bm25OracleSql,

    // RM1-style expansion: the bm25 oracle supplies the feedback set;
    // weights = per-query summed tf*idf over it, query terms excluded
    // BEFORE ranking (SQL WHERE precedes window evaluation).
    "q_bm25_expansion" ->
      s"""WITH bm AS (
         |${bm25OracleSql}
         |),
         |toks AS (
         |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS ndocs FROM dl),
         |fbtf AS (
         |  SELECT bm.qid, tf.term, tf.tf FROM tf JOIN bm ON tf.doc_id = bm.doc_id),
         |cand AS (SELECT DISTINCT term FROM fbtf),
         |canddf AS (
         |  SELECT tf.term, CAST(count(*) AS DOUBLE) AS df
         |  FROM tf JOIN cand ON tf.term = cand.term GROUP BY 1),
         |qterms AS (
         |  SELECT DISTINCT doc_id AS qid, unnest(string_split_regex(text, '\\s+')) AS term
         |  FROM documents WHERE doc_id < 3),
         |weights AS (
         |  SELECT f.qid, f.term,
         |    CAST(sum(CAST(round(
         |      f.tf * ln(1.0 + (n.ndocs - d.df + 0.5) / (d.df + 0.5)) * 1e6,
         |      0) AS BIGINT)) AS BIGINT) AS w6
         |  FROM fbtf f JOIN canddf d ON f.term = d.term CROSS JOIN n
         |  GROUP BY 1, 2),
         |expanded AS (
         |  SELECT w.*, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY w6 DESC, term ASC) AS BIGINT) AS rnk
         |  FROM weights w
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM qterms q WHERE q.qid = w.qid AND q.term = w.term))
         |SELECT qid, term, round(CAST(w6 AS DOUBLE) / 1e6, 6) AS weight, rnk
         |FROM expanded WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // RM3 two-pass replay: pass 1 = the full BM25 chain (bm), RM1 weights
    // = the q_bm25_expansion chain (expanded), then the interpolated term
    // model (originals at 0.6, normalized feedback at 0.4, both 1e-6
    // fixed-point) feeds a weighted second scoring pass with df over the
    // expanded term set.
    "q_bm25_rm3" ->
      s"""WITH bm AS (
         |${bm25OracleSql}
         |),
         |toks AS (
         |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM toks GROUP BY 1, 2),
         |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
         |stats AS (SELECT avg(dl) AS avgdl, CAST(count(*) AS DOUBLE) AS ndocs FROM dl),
         |fbtf AS (
         |  SELECT bm.qid, tf.term, tf.tf FROM tf JOIN bm ON tf.doc_id = bm.doc_id),
         |cand AS (SELECT DISTINCT term FROM fbtf),
         |canddf AS (
         |  SELECT tf.term, CAST(count(*) AS DOUBLE) AS df
         |  FROM tf JOIN cand ON tf.term = cand.term GROUP BY 1),
         |qterms AS (
         |  SELECT DISTINCT doc_id AS qid, unnest(string_split_regex(text, '\\s+')) AS term
         |  FROM documents WHERE doc_id < 3),
         |weights AS (
         |  SELECT f.qid, f.term,
         |    CAST(sum(CAST(round(
         |      f.tf * ln(1.0 + (s.ndocs - d.df + 0.5) / (d.df + 0.5)) * 1e6,
         |      0) AS BIGINT)) AS BIGINT) AS w6
         |  FROM fbtf f JOIN canddf d ON f.term = d.term CROSS JOIN stats s
         |  GROUP BY 1, 2),
         |expanded AS (
         |  SELECT * FROM (
         |    SELECT w.*, CAST(row_number() OVER (
         |      PARTITION BY qid ORDER BY w6 DESC, term ASC) AS BIGINT) AS rnk
         |    FROM weights w
         |    WHERE NOT EXISTS (
         |      SELECT 1 FROM qterms q WHERE q.qid = w.qid AND q.term = w.term))
         |  WHERE rnk <= 5),
         |wsum AS (SELECT qid, CAST(sum(w6) AS BIGINT) AS wsum6 FROM expanded GROUP BY 1),
         |qtw AS (
         |  SELECT qid, term, CAST(600000 AS BIGINT) AS wq6 FROM qterms
         |  UNION ALL
         |  SELECT e.qid, e.term,
         |    CAST(round(0.4 * CAST(e.w6 AS DOUBLE) / CAST(w.wsum6 AS DOUBLE) * 1e6, 0)
         |      AS BIGINT) AS wq6
         |  FROM expanded e JOIN wsum w USING (qid)),
         |qdf2 AS (
         |  SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf
         |  WHERE term IN (SELECT DISTINCT term FROM qtw) GROUP BY 1),
         |scored2 AS (
         |  SELECT w.qid, tf.doc_id,
         |    CAST(sum(CAST(round(
         |      CAST(w.wq6 AS DOUBLE) / 1000000.0 *
         |      ln(1.0 + (s.ndocs - d.df + 0.5) / (d.df + 0.5)) *
         |      (tf.tf * (1.2 + 1.0) /
         |        (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))) * 1e6,
         |      0) AS BIGINT)) AS BIGINT) AS s6
         |  FROM tf JOIN qtw w ON tf.term = w.term
         |  JOIN dl ON tf.doc_id = dl.doc_id
         |  JOIN qdf2 d ON tf.term = d.term
         |  CROSS JOIN stats s
         |  GROUP BY 1, 2),
         |ranked2 AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY s6 DESC, doc_id ASC) AS BIGINT) AS rnk
         |  FROM scored2)
         |SELECT qid, doc_id, round(CAST(s6 AS DOUBLE) / 1e6, 6) AS rm3, rnk
         |FROM ranked2 WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // Append == rebuild over the union: the FULL-corpus oracle.
    "q_bm25_append" -> bm25OracleSql,

    // Delete-then-query == rebuild-without-deleted. Null-safe predicate:
    // a NULL doc_id must stay in the oracle corpus like it stays in the
    // Spark corpus (the tombstone left_anti join keeps null-keyed rows;
    // bare NOT IN would silently drop them).
    "q_bm25_delete" ->
      bm25OracleSqlFor("doc_id IS NULL OR doc_id NOT IN (3, 4, 5, 6, 7)"),

    // RRF over the BM25 ranking (nested full bm25 oracle) and a
    // brute-force cosine ranking (vec_id < 3, k=5, self excluded —
    // mirrors the Spark side's bruteForceTopK parameters).
    "q_hybrid_rrf" ->
      s"""WITH bm AS (
         |${bm25OracleSql}
         |),
         |knn AS (
         |  WITH q AS (
         |    SELECT vec_id AS query_id, embedding AS qv,
         |           sqrt(${dotSql("embedding", "embedding", 64)}) AS nq
         |    FROM embeddings WHERE vec_id < 3),
         |  c AS (
         |    SELECT vec_id, embedding AS cv,
         |           sqrt(${dotSql("embedding", "embedding", 64)}) AS nc
         |    FROM embeddings),
         |  scored AS (
         |    SELECT query_id, vec_id, round((${dotSql("qv", "cv", 64)}) / (nq * nc), 6) AS cos_sim
         |    FROM c CROSS JOIN q WHERE vec_id <> query_id),
         |  kr AS (
         |    SELECT *, CAST(row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rnk
         |    FROM scored)
         |  SELECT query_id, vec_id, rnk FROM kr WHERE rnk <= 5
         |),
         |allr AS (
         |  SELECT qid, doc_id,
         |    CAST(round(1e9 / (60.0 + CAST(rnk AS DOUBLE)), 0) AS BIGINT) AS c9 FROM bm
         |  UNION ALL
         |  SELECT query_id AS qid, vec_id AS doc_id,
         |    CAST(round(1e9 / (60.0 + CAST(rnk AS DOUBLE)), 0) AS BIGINT) AS c9 FROM knn),
         |fused AS (
         |  SELECT qid, doc_id, CAST(sum(c9) AS BIGINT) AS s9,
         |    CAST(count(*) AS BIGINT) AS n_systems
         |  FROM allr GROUP BY 1, 2),
         |fr AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY s9 DESC, doc_id ASC) AS BIGINT) AS rnk
         |  FROM fused)
         |SELECT qid, doc_id, round(CAST(s9 AS DOUBLE) / 1e9, 6) AS rrf_score, n_systems, rnk
         |FROM fr WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    // The production composition: persisted-BM25 serve == the inline BM25
    // chain (build/serve row-identity, already pinned by q_bm25_persisted)
    // and trained-IVF serve == the replayed Lloyd's chain (pinned by
    // q_knn_ivf_trained) — so the oracle nests both full chains and fuses
    // with the same fixed-point RRF tail as q_hybrid_rrf.
    "q_hybrid_ivf" ->
      s"""WITH bm AS (
         |${bm25OracleSql}
         |),
         |knn AS (
         |  SELECT query_id, vec_id, rnk FROM (
         |${knnIvfOracleSqlFor("TRUE", kmeansOracleCtes(KnnTrainIters),
             s"cn_$KnnTrainIters", queryWhere = "vec_id < 3", k = 5)}
         |  )
         |),
         |allr AS (
         |  SELECT qid, doc_id,
         |    CAST(round(1e9 / (60.0 + CAST(rnk AS DOUBLE)), 0) AS BIGINT) AS c9 FROM bm
         |  UNION ALL
         |  SELECT query_id AS qid, vec_id AS doc_id,
         |    CAST(round(1e9 / (60.0 + CAST(rnk AS DOUBLE)), 0) AS BIGINT) AS c9 FROM knn),
         |fused AS (
         |  SELECT qid, doc_id, CAST(sum(c9) AS BIGINT) AS s9,
         |    CAST(count(*) AS BIGINT) AS n_systems
         |  FROM allr GROUP BY 1, 2),
         |fr AS (
         |  SELECT *, CAST(row_number() OVER (
         |    PARTITION BY qid ORDER BY s9 DESC, doc_id ASC) AS BIGINT) AS rnk
         |  FROM fused)
         |SELECT qid, doc_id, round(CAST(s9 AS DOUBLE) / 1e9, 6) AS rrf_score, n_systems, rnk
         |FROM fr WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin,

    "q_contamination" ->
      """WITH toks AS (
        |  SELECT doc_id, source, unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents),
        |sh_raw AS (
        |  SELECT doc_id, source,
        |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win || ' ' ||
        |    lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win || ' ' ||
        |    lead(w, 5) OVER win || ' ' || lead(w, 6) OVER win || ' ' ||
        |    lead(w, 7) OVER win AS shingle
        |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |sh8 AS (SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE shingle IS NOT NULL),
        |bench AS (
        |  SELECT DISTINCT shingle FROM sh_raw WHERE source = 'src0' AND shingle IS NOT NULL),
        |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles FROM sh8 GROUP BY 1),
        |hits AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit FROM sh8
        |  WHERE shingle IN (SELECT shingle FROM bench) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(p.n_shingles, 0) AS BIGINT) AS n_shingles,
        |  CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  round(CAST(coalesce(h.n_hit, 0) AS DOUBLE) /
        |        greatest(CAST(coalesce(p.n_shingles, 0) AS DOUBLE), 1.0), 6) AS contamination
        |FROM documents d
        |LEFT JOIN perdoc p ON d.doc_id = p.doc_id
        |LEFT JOIN hits h ON d.doc_id = h.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_stratified_sample" ->
      """SELECT doc_id, source FROM documents
        |WHERE substr(md5('graft:' || source || ':' || CAST(doc_id AS VARCHAR)), 1, 8) <
        |  CASE source WHEN 'src0' THEN '40000000' WHEN 'src1' THEN '80000000'
        |       ELSE 'c0000000' END
        |ORDER BY doc_id""".stripMargin,

    "q_source_cap" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rn <= 10 ORDER BY doc_id""".stripMargin,

    "q_pii_cc" ->
      """WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS doc_id,
        |    'acct ' || lpad(CAST((CAST(c_custkey AS BIGINT) * 2654435761) % 10000000000000 AS VARCHAR), 13, '0')
        |      || ' end' AS text
        |  FROM customer),
        |c AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(text, '\b\d(?:[ -]?\d){12,18}\b') AS cands
        |  FROM t),
        |v AS (
        |  SELECT doc_id, text, cands,
        |    list_filter(cands, x ->
        |      length(regexp_replace(x, '[ -]', '', 'g')) > 0 AND
        |      CAST(list_sum(list_transform(
        |        generate_series(1, length(regexp_replace(x, '[ -]', '', 'g'))),
        |        i -> CASE WHEN i % 2 = 0 THEN
        |               CASE WHEN (ascii(substr(reverse(regexp_replace(x, '[ -]', '', 'g')), CAST(i AS INTEGER), 1)) - 48) * 2 > 9
        |                 THEN (ascii(substr(reverse(regexp_replace(x, '[ -]', '', 'g')), CAST(i AS INTEGER), 1)) - 48) * 2 - 9
        |                 ELSE (ascii(substr(reverse(regexp_replace(x, '[ -]', '', 'g')), CAST(i AS INTEGER), 1)) - 48) * 2 END
        |             ELSE ascii(substr(reverse(regexp_replace(x, '[ -]', '', 'g')), CAST(i AS INTEGER), 1)) - 48 END))
        |        AS BIGINT) % 10 = 0) AS valids
        |  FROM c)
        |SELECT doc_id,
        |  list_reduce(list_prepend(text, valids),
        |    (acc, x) -> replace(acc, x, '<CC>')) AS redacted,
        |  CAST(len(cands) AS BIGINT) AS n_cc_candidates,
        |  CAST(len(valids) AS BIGINT) AS n_cc_valid
        |FROM v ORDER BY doc_id""".stripMargin,

    "q_pii_iban" ->
      """WITH t AS (
        |  SELECT CAST(c_custkey AS BIGINT) AS doc_id,
        |    'iban GB' || lpad(CAST((CAST(c_custkey AS BIGINT) * 7919) % 100 AS VARCHAR), 2, '0')
        |      || 'BANK'
        |      || lpad(CAST((CAST(c_custkey AS BIGINT) * 2654435761) % 10000000000000 AS VARCHAR), 13, '0')
        |      || ' ok' AS text
        |  FROM customer),
        |c AS (
        |  SELECT doc_id, text,
        |    regexp_extract_all(text, '\b[A-Z]{2}\d{2}[A-Z0-9]{11,30}\b') AS cands
        |  FROM t),
        |v AS (
        |  SELECT doc_id, text, cands,
        |    list_filter(cands, x ->
        |      length(x) >= 15 AND
        |      list_reduce(
        |        list_prepend(CAST(0 AS BIGINT), list_transform(
        |          string_split(array_to_string(list_transform(
        |            string_split(substr(x, 5) || substr(x, 1, 4), ''),
        |            ch -> CASE WHEN ascii(ch) >= 65
        |              THEN CAST(ascii(ch) - 55 AS VARCHAR) ELSE ch END), ''), ''),
        |          d -> CAST(ascii(d) - 48 AS BIGINT))),
        |        (a, b) -> (a * 10 + b) % 97) = 1) AS valids
        |  FROM c)
        |SELECT doc_id,
        |  list_reduce(list_prepend(text, valids),
        |    (acc, x) -> replace(acc, x, '<IBAN>')) AS redacted,
        |  CAST(len(cands) AS BIGINT) AS n_iban_candidates,
        |  CAST(len(valids) AS BIGINT) AS n_iban_valid
        |FROM v ORDER BY doc_id""".stripMargin,

    "q_pii_scrub" -> withCtes(
      """, pii AS (
        |  SELECT row_number,
        |    'reach ' || email || ' at 555-' ||
        |    lpad(CAST(row_number % 1000 AS VARCHAR), 3, '0') || '-' ||
        |    lpad(CAST(row_number % 10000 AS VARCHAR), 4, '0') AS text
        |  FROM input)
        |SELECT row_number,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{3}-\d{3}-\d{4}\b', '<PHONE>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b')) AS BIGINT) AS n_phone,
        |  CAST(len(regexp_extract_all(text,
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip
        |FROM pii ORDER BY row_number""".stripMargin),

    "q_tpch_shipping" ->
      """WITH agg AS (
        |  SELECT l_orderkey,
        |    sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS rev,
        |    o_orderdate, o_orderpriority
        |  FROM customer, orders, lineitem
        |  WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey
        |    AND l_orderkey = o_orderkey
        |    AND o_orderdate < TIMESTAMP '1998-01-01'
        |    AND l_shipdate > TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 3, 4),
        |top AS (
        |  SELECT * FROM agg ORDER BY rev DESC, o_orderdate, l_orderkey LIMIT 10)
        |SELECT l_orderkey, round(CAST(rev AS DOUBLE), 6) AS revenue,
        |       o_orderdate, o_orderpriority
        |FROM top ORDER BY revenue DESC, o_orderdate, l_orderkey""".stripMargin,

    "q_brand_stats" ->
      """SELECT p_brand, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(l_quantity) / count(*), 6) AS avg_qty,
        |  round((sum(l_quantity * l_quantity) - sum(l_quantity) * sum(l_quantity) / count(*))
        |        / (count(*) - 1), 6) AS var_qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY p_brand""".stripMargin,

    "q_skew_join_salted" ->
      """WITH dim AS (
        |  SELECT event_type, round(avg(value), 6) AS type_avg
        |  FROM events GROUP BY 1)
        |SELECT event_id, e.event_type, value, type_avg
        |FROM events e JOIN dim USING (event_type)
        |ORDER BY event_id""".stripMargin,

    // identical oracle to q_skew_join_salted by design: adaptive salting
    // must be result-invisible
    "q_skew_join_adaptive" ->
      """WITH dim AS (
        |  SELECT event_type, round(avg(value), 6) AS type_avg
        |  FROM events GROUP BY 1)
        |SELECT event_id, e.event_type, value, type_avg
        |FROM events e JOIN dim USING (event_type)
        |ORDER BY event_id""".stripMargin,

    "q_value_histogram" ->
      """SELECT event_type, CAST(floor(value / 100.0) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY event_type, bucket""".stripMargin,

    "q_profile_documents" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(text) AS BIGINT) AS text_nonnull,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS lang_distinct,
        |  CAST(count(DISTINCT source) AS BIGINT) AS source_distinct,
        |  CAST(min(n_chars) AS BIGINT) AS chars_min,
        |  CAST(max(n_chars) AS BIGINT) AS chars_max,
        |  round(avg(n_chars), 6) AS chars_avg
        |FROM documents""".stripMargin,

    "q_events_pivot" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |  CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS click,
        |  CAST(count(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS error,
        |  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS purchase,
        |  CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS signup,
        |  CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    "q_kmv_groups" ->
      """WITH h AS (
        |  SELECT DISTINCT event_type,
        |    (user_id * 2654435761) % 2147483647 AS hv
        |  FROM events),
        |r AS (
        |  SELECT event_type, hv,
        |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
        |  FROM h),
        |s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_sketch, max(hv) AS h_k
        |  FROM r WHERE rn <= 256 GROUP BY 1)
        |SELECT event_type,
        |  round(CASE WHEN n_sketch < 256 THEN CAST(n_sketch AS DOUBLE)
        |        ELSE 255.0 * 2147483647.0 / CAST(h_k AS DOUBLE) END, 4) AS approx_users
        |FROM s ORDER BY event_type""".stripMargin,

    // Register-exact HLL mirror: same 60-bit md5-prefix hash, same
    // bin()-length rho, same scaled-integer harmonic denominator. The
    // estimate's one double division + the linear-counting ln are the only
    // float steps, rounded to 4dp on both sides.
    "q_hll_groups" ->
      """WITH h AS (
        |  SELECT event_type,
        |    ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT AS hv
        |  FROM events WHERE user_id IS NOT NULL),
        |b AS (
        |  SELECT event_type,
        |    CAST(hv // 1125899906842624 AS BIGINT) AS bucket,
        |    CAST(hv % 1125899906842624 AS BIGINT) AS w
        |  FROM h),
        |r AS (
        |  SELECT event_type, bucket,
        |    max(CASE WHEN w = 0 THEN 51 ELSE 51 - length(bin(w)) END) AS rho
        |  FROM b GROUP BY 1, 2),
        |agg AS (
        |  SELECT event_type,
        |    CAST(sum(CAST(1 AS BIGINT) << (51 - rho)) AS BIGINT)
        |      + (1024 - count(*)) * (CAST(1 AS BIGINT) << 51) AS s_scaled,
        |    1024 - count(*) + CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zero_buckets
        |  FROM r GROUP BY 1),
        |est AS (
        |  SELECT event_type, s_scaled, zero_buckets,
        |    (0.7213 / (1 + 1.079 / 1024.0)) * 1024.0 * 1024.0 * 2251799813685248.0
        |      / CAST(s_scaled AS DOUBLE) AS raw_est
        |  FROM agg)
        |SELECT event_type,
        |  round(CASE WHEN raw_est <= 2.5 * 1024.0 AND zero_buckets > 0
        |             THEN 1024.0 * ln(1024.0 / CAST(zero_buckets AS DOUBLE))
        |             ELSE raw_est END, 4) AS approx_users,
        |  s_scaled, zero_buckets
        |FROM est ORDER BY event_type""".stripMargin,

    // Oracle = full recompute from raw events: merging persisted state with
    // the delta must be indistinguishable from rescanning history.
    "q_incremental_agg" ->
      """WITH e AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type,
        |    CAST(round(CAST(value AS DOUBLE) * 1e6, 0) AS BIGINT) AS v_fp
        |  FROM events)
        |SELECT CAST(day AS VARCHAR) AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(v_fp) AS DOUBLE) / 1e6 / CAST(count(*) AS DOUBLE), 6) AS avg_value
        |FROM e GROUP BY day, event_type ORDER BY day, event_type""".stripMargin,

    "q_events_rollup" ->
      """WITH base AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, value FROM events),
        |r AS (
        |  SELECT day, event_type, CAST(count(*) AS BIGINT) AS n,
        |    round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS total_value,
        |    CASE WHEN day IS NULL AND event_type IS NULL THEN 3
        |         WHEN event_type IS NULL THEN 1 ELSE 0 END AS lvl
        |  FROM base GROUP BY ROLLUP (day, event_type))
        |SELECT coalesce(CAST(day AS VARCHAR), '1900-01-01') AS day,
        |  coalesce(event_type, 'ALL') AS event_type,
        |  n, total_value, CAST(lvl AS BIGINT) AS lvl
        |FROM r ORDER BY lvl, day, event_type""".stripMargin,

    "q_user_retention" ->
      """WITH ev AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1)
        |SELECT CAST(c.cohort_day AS VARCHAR) AS cohort_day,
        |  CAST(date_diff('day', c.cohort_day, e.day) AS BIGINT) AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM ev e JOIN cohort c ON e.user_id = c.user_id
        |GROUP BY 1, 2
        |HAVING day_offset <= 7
        |ORDER BY cohort_day, day_offset""".stripMargin,

    "q_events_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, ts FROM events),
        |s1 AS (
        |  SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup
        |  FROM ev GROUP BY 1),
        |s2 AS (
        |  SELECT s1.user_id, s1.t_signup,
        |    min(CASE WHEN v.ts > s1.t_signup THEN v.ts END) AS t_view
        |  FROM s1 LEFT JOIN ev v ON v.user_id = s1.user_id AND v.event_type = 'view'
        |  GROUP BY 1, 2),
        |s3 AS (
        |  SELECT s2.user_id, s2.t_signup, s2.t_view,
        |    min(CASE WHEN c.ts > s2.t_view THEN c.ts END) AS t_click
        |  FROM s2 LEFT JOIN ev c ON c.user_id = s2.user_id AND c.event_type = 'click'
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(count(t_signup) AS BIGINT) AS n_signup,
        |  CAST(count(t_view) AS BIGINT) AS n_view,
        |  CAST(count(t_click) AS BIGINT) AS n_click
        |FROM s3""".stripMargin,

    "q_events_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_dedup_clusters" ->
      s"""WITH $clusterChainSql
         |SELECT doc_id, cluster_id FROM l5 ORDER BY doc_id""".stripMargin,

    // Same label-propagation chain; weights layered on top.
    "q_dedup_weights" ->
      s"""WITH $clusterChainSql,
         |cs AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM l5 GROUP BY cluster_id)
         |SELECT l5.doc_id, l5.cluster_id, cs.cluster_size,
         |  round(1.0 / CAST(cs.cluster_size AS DOUBLE), 6) AS sample_weight
         |FROM l5 JOIN cs USING (cluster_id)
         |ORDER BY doc_id""".stripMargin,

    "q_sketch_distinct" ->
      """WITH h AS (
        |  SELECT DISTINCT (CAST(l_orderkey AS BIGINT) * 2654435761) % 2147483647 AS hv
        |  FROM lineitem),
        |sk AS (SELECT hv FROM h ORDER BY hv LIMIT 256),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_sketch, max(hv) AS h_k FROM sk),
        |ex AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_distinct FROM lineitem)
        |SELECT
        |  round(CASE WHEN n_sketch < 256 THEN CAST(n_sketch AS DOUBLE)
        |             ELSE 255.0 * 2147483647.0 / CAST(h_k AS DOUBLE) END, 4) AS approx_distinct,
        |  n_sketch, exact_distinct
        |FROM agg, ex""".stripMargin,

    "q_dup_emails_salted" -> withCtes(
      """SELECT lower(trim(email)) AS norm_email, CAST(count(*) AS BIGINT) AS cnt
        |FROM input WHERE trim(email) <> ''
        |GROUP BY 1 HAVING count(*) > 1
        |ORDER BY norm_email""".stripMargin),

    "q_tpch_pricing" ->
      """WITH agg AS (
        |  SELECT l_returnflag, l_linestatus,
        |    sum(CAST(l_quantity AS DECIMAL(18,6))) AS sq,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS sbp,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |        (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))
        |        AS DECIMAL(18,6))) AS sdp,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM lineitem
        |  WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  GROUP BY 1, 2)
        |SELECT l_returnflag, l_linestatus,
        |       round(CAST(sq AS DOUBLE), 6) AS sum_qty,
        |       round(CAST(sbp AS DOUBLE), 6) AS sum_base_price,
        |       round(CAST(sdp AS DOUBLE), 6) AS sum_disc_price,
        |       n,
        |       round(CAST(sq AS DOUBLE) / CAST(n AS DOUBLE), 6) AS avg_qty
        |FROM agg ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_tpch_revenue" ->
      """SELECT c_mktsegment, o_orderpriority,
        |  round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))
        |      AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1, 2 ORDER BY c_mktsegment, o_orderpriority""".stripMargin,

    "q_dedup_exact" ->
      """WITH h AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash
        |  FROM documents)
        |SELECT doc_id, text_hash,
        |  min(doc_id) OVER (PARTITION BY text_hash) AS survivor_id,
        |  doc_id <> min(doc_id) OVER (PARTITION BY text_hash) AS is_duplicate
        |FROM h ORDER BY doc_id""".stripMargin,

    "q_dedup_survivor" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    CASE WHEN source = 'src1' THEN 0 ELSE 1 END AS prio,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS text_hash
        |  FROM documents)
        |SELECT doc_id, text_hash,
        |  first_value(doc_id) OVER (PARTITION BY text_hash ORDER BY prio, doc_id) AS survivor_id,
        |  doc_id <> first_value(doc_id) OVER (PARTITION BY text_hash ORDER BY prio, doc_id) AS is_duplicate
        |FROM h ORDER BY doc_id""".stripMargin,

    "q_dedup_incremental" ->
      """WITH cut AS (SELECT (max(doc_id) + 1) * 4 // 5 AS c FROM documents),
        |hist AS (
        |  SELECT DISTINCT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
        |  FROM documents, cut WHERE doc_id < c),
        |batch AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS h
        |  FROM documents, cut WHERE doc_id >= c)
        |SELECT doc_id FROM batch
        |WHERE h NOT IN (SELECT h FROM hist)
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH $shingleCtes,
         |$minhashSigsCte
         |SELECT * FROM sigs ORDER BY doc_id""".stripMargin,

    "q_dedup_incremental_near" ->
      s"""WITH $shingleCtes,
         |cut AS (SELECT (max(doc_id) + 1) * 4 // 5 AS c FROM documents),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |ip AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle, cut
         |  WHERE a.doc_id < c AND b.doc_id >= c
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) AS jaccard
         |FROM ip
         |JOIN sizes sa ON id_a = sa.doc_id
         |JOIN sizes sb ON id_b = sb.doc_id
         |WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_lsh_pairs" -> lshPairsOracleSql,

    // Shared verbatim with the uncapped witness: no fixture band bucket
    // approaches the production cap, so the stop-band guard must be inert
    // here — the capped and uncapped plans agree row-for-row.
    "q_dedup_lsh_pairs_capped" -> lshPairsOracleSql,

    // Same exact-pairs oracle as q_dedup_jaccard: prefix filtering is an
    // exact algorithm, so the two queries must agree row-for-row.
    "q_dedup_prefix_pairs" ->
      s"""WITH $shingleCtes,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON id_a = sa.doc_id
         |JOIN sizes sb ON id_b = sb.doc_id
         |WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_jaccard" -> jaccardPairsOracleSql,

    // The skew-guarded (dfCap) path computes the SAME answer — a pair
    // whose only overlap is stop-shingles cannot reach threshold 0.8, and
    // the stop-term decomposition keeps `inter` exact for every candidate
    // — so the exact inverted-index SQL pins it verbatim. The plan differs
    // (the hot shingle's join bucket is rerouted); the hot-band ×100 rows
    // in BASELINE.md measure that difference.
    "q_dedup_jaccard_capped" -> jaccardPairsOracleSql,

    "q_dedup_leaders" ->
      s"""WITH $shingleCtes,
         |$minhashSigsCte,
         |banded AS (
         |  SELECT doc_id, 0 AS band, md5(sig_0 || sig_1) AS bkey FROM sigs
         |  UNION ALL SELECT doc_id, 1, md5(sig_2 || sig_3) FROM sigs
         |  UNION ALL SELECT doc_id, 2, md5(sig_4 || sig_5) FROM sigs
         |  UNION ALL SELECT doc_id, 3, md5(sig_6 || sig_7) FROM sigs),
         |bl AS (SELECT band, bkey, min(doc_id) AS leader_id FROM banded GROUP BY 1, 2),
         |bcand AS (
         |  SELECT bl.leader_id AS id_a, banded.doc_id AS id_b
         |  FROM banded JOIN bl ON banded.band = bl.band AND banded.bkey = bl.bkey
         |  WHERE banded.doc_id <> bl.leader_id),
         |hh AS (
         |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS h
         |  FROM documents),
         |hl AS (SELECT h, min(doc_id) AS leader_id FROM hh GROUP BY 1),
         |hcand AS (
         |  SELECT hl.leader_id AS id_a, hh.doc_id AS id_b
         |  FROM hh JOIN hl ON hh.h = hl.h WHERE hh.doc_id <> hl.leader_id),
         |cand AS (
         |  SELECT DISTINCT id_a, id_b
         |  FROM (SELECT * FROM bcand UNION ALL SELECT * FROM hcand)),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |iv AS (
         |  SELECT c.id_a, c.id_b, count(*) AS inter
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.id_a
         |  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
         |  GROUP BY 1, 2)
         |SELECT id_b AS doc_id, id_a AS leader_id,
         |  round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) AS jaccard
         |FROM iv
         |JOIN sizes sa ON id_a = sa.doc_id
         |JOIN sizes sb ON id_b = sb.doc_id
         |WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.8
         |ORDER BY doc_id, leader_id""".stripMargin,

    "q_minhash_accuracy" -> {
      val matchSql = (0 until 8)
        .map(i => s"CASE WHEN a.sig_$i = b.sig_$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $shingleCtes,
         |$minhashSigsCte,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |pr AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS (
         |  SELECT id_a, id_b,
         |    round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) AS jaccard
         |  FROM pr
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.8)
         |SELECT id_a, id_b, jaccard, round(($matchSql) / 8.0, 6) AS minhash_est
         |FROM jp
         |JOIN sigs a ON jp.id_a = a.doc_id
         |JOIN sigs b ON jp.id_b = b.doc_id
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q_dedup_simhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w FROM documents),
         |votes AS (
         |  SELECT doc_id,
         |    $simhashVotesSql
         |  FROM toks GROUP BY doc_id)
         |SELECT doc_id, $simhashValueSql AS simhash
         |FROM votes ORDER BY doc_id""".stripMargin,

    "q_dedup_simhash_pairs" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w FROM documents),
         |votes AS (
         |  SELECT doc_id,
         |    $simhashVotesSql
         |  FROM toks GROUP BY doc_id),
         |hashes AS (SELECT doc_id, $simhashValueSql AS simhash FROM votes)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_simhash64_pairs" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w FROM documents),
         |votes AS (
         |  SELECT doc_id,
         |    $simhash64VotesSql
         |  FROM toks GROUP BY doc_id),
         |hashes AS (SELECT doc_id, $simhash64ValueSql AS simhash FROM votes)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    "q_corpus_prep" ->
      s"""WITH $shingleCtes,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |losers AS (
         |  SELECT DISTINCT id_b AS doc_id FROM pairs
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.8),
         |scored AS (
         |  SELECT doc_id, text,
         |    CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS n_words,
         |    round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
         |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w IN ('the','a','of','and','to'))) AS DOUBLE) AS stop_hits
         |  FROM documents),
         |quality AS (
         |  SELECT doc_id, text,
         |    round(0.4 * (least(n_words, 100.0) / 100.0)
         |        + 0.3 * (1.0 - punct_ratio)
         |        + 0.3 * least(stop_hits / greatest(n_words, 1.0) * 5.0, 1.0), 6) AS quality
         |  FROM scored)
         |SELECT q.doc_id, q.quality,
         |       CAST(len(string_split_regex(q.text, '\\s+')) AS BIGINT) AS n_tokens
         |FROM quality q
         |WHERE q.quality >= 0.6 AND q.doc_id NOT IN (SELECT doc_id FROM losers)
         |ORDER BY q.doc_id""".stripMargin,

    "q_knn_brute" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qv,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nq
         |  FROM embeddings WHERE vec_id < 5),
         |c AS (
         |  SELECT vec_id, embedding AS cv,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nc
         |  FROM embeddings),
         |scored AS (
         |  SELECT query_id, vec_id, round((${dotSql("qv", "cv", 64)}) / (nq * nc), 6) AS cos_sim
         |  FROM c CROSS JOIN q WHERE vec_id <> query_id),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    "q_knn_bucketed" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qv, ${bucketSql("embedding", 8)} AS bucket,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nq
         |  FROM embeddings WHERE vec_id < 5),
         |c AS (
         |  SELECT vec_id, embedding AS cv, ${bucketSql("embedding", 8)} AS bucket,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nc
         |  FROM embeddings),
         |scored AS (
         |  SELECT query_id, c.vec_id, round((${dotSql("qv", "cv", 64)}) / (nq * nc), 6) AS cos_sim
         |  FROM c JOIN q ON c.bucket = q.bucket WHERE c.vec_id <> q.query_id),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT query_id, vec_id, cos_sim, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin,

    "q_token_packing" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
        |    CAST(floor(doc_id / 100) AS BIGINT) AS shard
        |  FROM documents),
        |c AS (
        |  SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM t)
        |SELECT doc_id, shard,
        |  CAST(floor((cum_tokens - n_tokens) / 512.0) AS BIGINT) AS pack_id,
        |  n_tokens, cum_tokens
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_label_centroids" ->
      """WITH x AS (
        |  SELECT label, unnest(embedding) AS v,
        |    unnest(generate_series(1, len(embedding))) AS pos
        |  FROM embeddings),
        |d AS (
        |  SELECT label, pos, count(*) AS n,
        |    round(avg(CAST(v AS DOUBLE)), 6) AS m
        |  FROM x GROUP BY 1, 2)
        |SELECT label, CAST(max(n) AS BIGINT) AS n_vectors,
        |  string_agg(printf('%.6f', m), ',' ORDER BY pos) AS centroid_csv
        |FROM d GROUP BY label ORDER BY label""".stripMargin,

    "q_embedding_quantize" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    greatest(list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), 1e-12) AS maxabs
        |  FROM embeddings)
        |SELECT vec_id,
        |  round(127.0 / maxabs, 6) AS qscale,
        |  array_to_string(list_transform(embedding,
        |    x -> CAST(CAST(floor(CAST(x AS DOUBLE) * (127.0 / maxabs) + 0.5) AS BIGINT) AS VARCHAR)), ',') AS q_csv
        |FROM m ORDER BY vec_id""".stripMargin,

    "q_kmeans_step" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS centv,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS ncent
         |  FROM embeddings ORDER BY vec_id LIMIT 8),
         |c AS (
         |  SELECT vec_id, embedding AS cv,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nc
         |  FROM embeddings),
         |assign AS (
         |  SELECT vec_id, cent_id, cv,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY round((${dotSql("cv", "centv", 64)}) / (nc * ncent), 6) DESC, cent_id) AS arnk
         |  FROM c CROSS JOIN cents),
         |mem AS (
         |  SELECT cent_id, unnest(cv) AS x,
         |    unnest(generate_series(1, len(cv))) AS pos
         |  FROM assign WHERE arnk = 1),
         |d AS (
         |  SELECT cent_id, pos, count(*) AS n,
         |    round(avg(CAST(x AS DOUBLE)), 6) AS m
         |  FROM mem GROUP BY 1, 2)
         |SELECT cent_id, CAST(max(n) AS BIGINT) AS n_members,
         |  string_agg(printf('%.6f', m), ',' ORDER BY pos) AS centroid_csv
         |FROM d GROUP BY cent_id ORDER BY cent_id""".stripMargin,

    "q_knn_recall" ->
      s"""WITH q AS (
         |  SELECT vec_id AS query_id, embedding AS qv,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nq
         |  FROM embeddings WHERE vec_id < 5),
         |c AS (
         |  SELECT vec_id, embedding AS cv,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nc
         |  FROM embeddings),
         |bscored AS (
         |  SELECT query_id, vec_id, round((${dotSql("qv", "cv", 64)}) / (nq * nc), 6) AS cos_sim
         |  FROM c CROSS JOIN q WHERE vec_id <> query_id),
         |branked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
         |  FROM bscored),
         |btop AS (SELECT query_id, vec_id FROM branked WHERE rnk <= 3),
         |cents AS (
         |  SELECT vec_id AS cent_id, embedding AS centv,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS ncent
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |assign AS (
         |  SELECT vec_id, cent_id, cv, nc,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY round((${dotSql("cv", "centv", 64)}) / (nc * ncent), 6) DESC, cent_id) AS arnk
         |  FROM c CROSS JOIN cents),
         |lists AS (SELECT cent_id, vec_id, cv, nc FROM assign WHERE arnk = 1),
         |probes AS (
         |  SELECT cent_id, query_id, qv, nq FROM (
         |    SELECT cent_id, query_id, qv, nq,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY round((${dotSql("qv", "centv", 64)}) / (nq * ncent), 6) DESC, cent_id) AS prnk
         |    FROM q CROSS JOIN cents) WHERE prnk <= 4),
         |iscored AS (
         |  SELECT query_id, vec_id, round((${dotSql("qv", "cv", 64)}) / (nq * nc), 6) AS cos_sim
         |  FROM lists JOIN probes USING (cent_id) WHERE vec_id <> query_id),
         |iranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, vec_id) AS rnk FROM iscored),
         |itop AS (SELECT query_id, vec_id FROM iranked WHERE rnk <= 3),
         |hits AS (
         |  SELECT b.query_id, CAST(count(*) AS BIGINT) AS h
         |  FROM btop b JOIN itop i ON b.query_id = i.query_id AND b.vec_id = i.vec_id
         |  GROUP BY 1)
         |SELECT qq.query_id, round(coalesce(h, 0) / 3.0, 6) AS recall_at_3
         |FROM (SELECT DISTINCT query_id FROM q) qq LEFT JOIN hits USING (query_id)
         |ORDER BY qq.query_id""".stripMargin,

    "q_knn_ivf" -> knnIvfOracleSql,

    // The persisted index must be ROW-IDENTICAL to the inline path — both
    // keys share one oracle string so they can never drift apart; the
    // incremental-append variant shares it too (frozen centroids + union
    // lists == the full-corpus index by construction).
    "q_knn_ivf_persisted" -> knnIvfOracleSql,
    "q_knn_ivf_pinned" -> knnIvfOracleSql,
    "q_knn_ivf_append" -> knnIvfOracleSql,

    // Trained coarse quantizer: the SAME search oracle, with the centroid
    // CTE replaced by the generated Lloyd's-iteration chain (fixed-point
    // means — every training round replays bit-exactly).
    "q_knn_ivf_trained" -> knnIvfOracleSqlFor(
      "TRUE", kmeansOracleCtes(KnnTrainIters), s"cn_$KnnTrainIters"),

    // Deletion == rebuild-without-deleted: the oracle literally IS the
    // rebuilt index over the filtered corpus.
    "q_knn_ivf_delete" -> knnIvfOracleSqlFor(
      "NOT (vec_id >= 16 AND vec_id % 7 = 3)"),

    "q_knn_recall_trained" ->
      s"""WITH c AS (
         |  SELECT vec_id, embedding AS cv,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nc
         |  FROM embeddings),
         |${kmeansOracleCtes(KnnTrainIters)},
         |q AS (
         |  SELECT vec_id AS query_id, embedding AS qv,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nq
         |  FROM embeddings WHERE vec_id < 5),
         |bscored AS (
         |  SELECT query_id, vec_id, round((${dotSql("qv", "cv", 64)}) / (nq * nc), 6) AS cos_sim
         |  FROM c CROSS JOIN q WHERE vec_id <> query_id),
         |branked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rnk
         |  FROM bscored),
         |btop AS (SELECT query_id, vec_id FROM branked WHERE rnk <= 3),
         |assign AS (
         |  SELECT vec_id, cent_id, cv, nc,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY round((${dotSql("cv", "centv", 64)}) / (nc * ncent), 6) DESC, cent_id) AS arnk
         |  FROM c CROSS JOIN cn_$KnnTrainIters),
         |lists AS (SELECT cent_id, vec_id, cv, nc FROM assign WHERE arnk = 1),
         |probes AS (
         |  SELECT cent_id, query_id, qv, nq FROM (
         |    SELECT cent_id, query_id, qv, nq,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY round((${dotSql("qv", "centv", 64)}) / (nq * ncent), 6) DESC, cent_id) AS prnk
         |    FROM q CROSS JOIN cn_$KnnTrainIters) WHERE prnk <= 4),
         |iscored AS (
         |  SELECT query_id, vec_id, round((${dotSql("qv", "cv", 64)}) / (nq * nc), 6) AS cos_sim
         |  FROM lists JOIN probes USING (cent_id) WHERE vec_id <> query_id),
         |iranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos_sim DESC, vec_id) AS rnk FROM iscored),
         |itop AS (SELECT query_id, vec_id FROM iranked WHERE rnk <= 3),
         |hits AS (
         |  SELECT b.query_id, CAST(count(*) AS BIGINT) AS h
         |  FROM btop b JOIN itop i ON b.query_id = i.query_id AND b.vec_id = i.vec_id
         |  GROUP BY 1)
         |SELECT qq.query_id, round(coalesce(h, 0) / 3.0, 6) AS recall_at_3
         |FROM (SELECT DISTINCT query_id FROM q) qq LEFT JOIN hits USING (query_id)
         |ORDER BY qq.query_id""".stripMargin,

    "q_pq_adc_persisted" ->
      s"""WITH $pqAdcCtes
         |SELECT query_id, vec_id, adc_dist, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin,

    "q_dedup_embedding" ->
      s"""WITH a AS (
         |  SELECT vec_id AS id_a, embedding AS va,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS na
         |  FROM embeddings),
         |b AS (
         |  SELECT vec_id AS id_b, embedding AS vb,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nb
         |  FROM embeddings),
         |scored AS (
         |  SELECT id_a, id_b, round((${dotSql("va", "vb", 64)}) / (na * nb), 6) AS cos_sim
         |  FROM a CROSS JOIN b WHERE id_a < id_b)
         |SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    "q_multimodal_features" ->
      """WITH m AS (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio'
        |         ELSE 'video' END AS kind,
        |    encode(text) AS payload
        |  FROM documents),
        |b AS (
        |  SELECT media_id, kind, CAST(octet_length(payload) AS BIGINT) AS n_bytes,
        |         hex(payload) AS h
        |  FROM m),
        |c AS (
        |  SELECT media_id, kind, n_bytes,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        [CAST(16 * (strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1)
        |           + (strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1) AS BIGINT)
        |         FOR i IN range(1, CAST(n_bytes AS INT) + 1)]),
        |      (acc, x) -> (acc * 31 + x) % 4294967296) AS checksum
        |  FROM b)
        |SELECT media_id, kind, n_bytes, checksum,
        |  CAST(16 + checksum % 1024 AS BIGINT) AS width,
        |  CAST(16 + (checksum // 1024) % 1024 AS BIGINT) AS height
        |FROM c ORDER BY media_id""".stripMargin,

    "q_image_phash" ->
      """WITH m AS (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio'
        |         ELSE 'video' END AS kind,
        |    encode(text) AS payload
        |  FROM documents),
        |b AS (
        |  SELECT media_id, kind, CAST(octet_length(payload) AS BIGINT) AS n_bytes,
        |         hex(payload) AS h
        |  FROM m),
        |c AS (
        |  SELECT media_id, kind,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        [CAST(16 * (strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1)
        |           + (strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1) AS BIGINT)
        |         FOR i IN range(1, CAST(n_bytes AS INT) + 1)]),
        |      (acc, x) -> (acc * 31 + x) % 4294967296) AS phash
        |  FROM b)
        |-- text payloads are undecodable by construction => decoded = false
        |SELECT media_id, kind, phash, CAST(FALSE AS BOOLEAN) AS decoded
        |FROM c ORDER BY media_id""".stripMargin,

    "q_phash_checksum_pairs" ->
      """WITH m AS (
        |  SELECT CAST(doc_id AS BIGINT) AS media_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'image'
        |         WHEN doc_id % 3 = 1 THEN 'audio'
        |         ELSE 'video' END AS kind,
        |    encode(text) AS payload
        |  FROM documents),
        |b AS (
        |  SELECT media_id, kind, CAST(octet_length(payload) AS BIGINT) AS n_bytes,
        |         hex(payload) AS h
        |  FROM m),
        |c AS (
        |  SELECT media_id, kind,
        |    list_reduce(
        |      list_prepend(CAST(0 AS BIGINT),
        |        [CAST(16 * (strpos('0123456789ABCDEF', substr(h, 2*i-1, 1)) - 1)
        |           + (strpos('0123456789ABCDEF', substr(h, 2*i, 1)) - 1) AS BIGINT)
        |         FOR i IN range(1, CAST(n_bytes AS INT) + 1)]),
        |      (acc, x) -> (acc * 31 + x) % 4294967296) AS phash
        |  FROM b)
        |SELECT a.kind AS kind, a.media_id AS id_a, bb.media_id AS id_b,
        |  CAST(bit_count(xor(a.phash, bb.phash)) AS BIGINT) AS hamming
        |FROM c a JOIN c bb ON a.media_id < bb.media_id AND a.kind = bb.kind
        |WHERE bit_count(xor(a.phash, bb.phash)) <= 6
        |ORDER BY kind, id_a, id_b""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT CAST(doc_id AS BIGINT) AS media_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image'
        |       WHEN doc_id % 3 = 1 THEN 'audio'
        |       ELSE 'video' END AS kind,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  'synthetic/' || CAST(doc_id AS VARCHAR) AS source
        |FROM documents ORDER BY media_id""".stripMargin,

    "q_dedup_embedding_bucketed" ->
      s"""WITH params AS (
         |  SELECT coalesce(min(b), 20) AS bits
         |  FROM generate_series(8, 20) t(b)
         |  WHERE (SELECT count(*) FROM embeddings) <= (CAST(1 AS BIGINT) << b) * 64),
         |a AS (
         |  SELECT vec_id AS id_a, embedding AS va, ${bucketSqlAdaptive("embedding")} AS bucket,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS na
         |  FROM embeddings),
         |b AS (
         |  SELECT vec_id AS id_b, embedding AS vb, ${bucketSqlAdaptive("embedding")} AS bucket,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nb
         |  FROM embeddings),
         |scored AS (
         |  SELECT id_a, id_b, round((${dotSql("va", "vb", 64)}) / (na * nb), 6) AS cos_sim
         |  FROM a JOIN b ON a.bucket = b.bucket WHERE id_a < id_b)
         |SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_embedding_leader" ->
      s"""WITH params AS (
         |  SELECT coalesce(min(b), 20) AS bits
         |  FROM generate_series(8, 20) t(b)
         |  WHERE (SELECT count(*) FROM embeddings) <= (CAST(1 AS BIGINT) << b) * 64),
         |t AS (
         |  SELECT vec_id, embedding AS cv, ${bucketSqlAdaptive("embedding")} AS bucket,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nc
         |  FROM embeddings),
         |l AS (SELECT bucket, min(vec_id) AS leader_id FROM t GROUP BY 1),
         |lv AS (
         |  SELECT l.bucket, l.leader_id, t.cv AS lvv, t.nc AS nl
         |  FROM l JOIN t ON t.vec_id = l.leader_id),
         |scored AS (
         |  SELECT t.vec_id, lv.leader_id,
         |         round((${dotSql("cv", "lvv", 64)}) / (nc * nl), 6) AS cos_sim
         |  FROM t JOIN lv ON t.bucket = lv.bucket
         |  WHERE t.vec_id <> lv.leader_id)
         |SELECT vec_id, leader_id, cos_sim FROM scored WHERE cos_sim >= 0.4
         |ORDER BY vec_id""".stripMargin,

    "q_pq_encode" -> {
      val d0 = 8
      val codeCtes = (0 until 8).map { s =>
        val off = s * d0
        s"""code_$s AS (
           |  SELECT vec_id, cb_id AS code FROM (
           |    SELECT c.vec_id, t.cb_id,
           |      row_number() OVER (PARTITION BY c.vec_id ORDER BY
           |        round((${pqSubDot("cv", "cv", off, off, d0)})
           |          + (${pqSubDot("cbv", "cbv", off, off, d0)})
           |          - 2.0 * (${pqSubDot("cv", "cbv", off, off, d0)}), 6),
           |        cb_id) AS rnk
           |    FROM c CROSS JOIN cents t) r WHERE rnk = 1)""".stripMargin
      }.mkString(",\n")
      val joins = (0 until 8)
        .map(s => s"JOIN code_$s c$s ON c.vec_id = c$s.vec_id").mkString("\n")
      val outs = (0 until 8).map(s => s"c$s.code AS code_$s").mkString(", ")
      s"""WITH cents AS (
         |  SELECT vec_id AS cb_id, embedding AS cbv
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |c AS (SELECT vec_id, embedding AS cv FROM embeddings),
         |$codeCtes
         |SELECT c.vec_id, $outs
         |FROM c
         |$joins
         |ORDER BY c.vec_id""".stripMargin
    },

    "q_pq_adc" ->
      s"""WITH $pqAdcCtes
         |SELECT query_id, vec_id, adc_dist, rnk FROM ranked WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin,

    "q_pq_rerank" ->
      s"""WITH $pqAdcCtes,
         |short AS (SELECT query_id, vec_id FROM ranked WHERE rnk <= 10),
         |scored AS (
         |  SELECT s.query_id, s.vec_id, ${cosSql("qv", "cv", 64)} AS cos_sim
         |  FROM short s
         |  JOIN c ON s.vec_id = c.vec_id
         |  JOIN qc ON s.query_id = qc.vec_id),
         |rr AS (
         |  SELECT query_id, vec_id, cos_sim,
         |    CAST(row_number() OVER (
         |      PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT query_id, vec_id, cos_sim, rnk FROM rr WHERE rnk <= 3
         |ORDER BY query_id, rnk""".stripMargin,

    // Stand-in-codebook ADC recall vs brute-force ground truth: reuses the
    // full pqAdcCtes chain for the PQ side; brute side mirrors
    // bruteForceTopK (round-6 cosine, self excluded, ties on vec_id).
    "q_pq_recall" ->
      s"""WITH $pqAdcCtes,
         |bn AS (SELECT vec_id, cv, sqrt(${dotSql("cv", "cv", 64)}) AS nc FROM c),
         |qn AS (SELECT vec_id AS query_id, qv,
         |         sqrt(${dotSql("qv", "qv", 64)}) AS nq FROM qc),
         |bscored AS (
         |  SELECT query_id, bn.vec_id,
         |    round((${dotSql("qv", "cv", 64)}) / (nq * nc), 6) AS cos_sim
         |  FROM bn CROSS JOIN qn WHERE bn.vec_id <> query_id),
         |branked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS brnk
         |  FROM bscored),
         |btop AS (SELECT query_id, vec_id FROM branked WHERE brnk <= 3),
         |ptop AS (SELECT query_id, vec_id FROM ranked WHERE rnk <= 3),
         |hits AS (
         |  SELECT b.query_id, CAST(count(*) AS BIGINT) AS h
         |  FROM btop b JOIN ptop i ON b.query_id = i.query_id AND b.vec_id = i.vec_id
         |  GROUP BY 1)
         |SELECT qq.query_id, round(coalesce(h, 0) / 3.0, 6) AS recall_at_3
         |FROM (SELECT DISTINCT query_id FROM qn) qq LEFT JOIN hits USING (query_id)
         |ORDER BY qq.query_id""".stripMargin,

    // TRAINED-codebook ADC recall: the per-subspace Lloyd's chain replays
    // bit-exactly (pqTrainedCtes), then encode + distance tables + ADC
    // aggregation against cbt_<iters>, scored against the same brute
    // ground truth.
    "q_pq_recall_trained" ->
      s"""WITH c AS (SELECT vec_id, embedding AS cv FROM embeddings),
         |${pqTrainedCtes(PqTrainIters)},
         |qc AS (SELECT vec_id AS query_id, embedding AS qv
         |       FROM embeddings WHERE vec_id < 5),
         |qsub AS (
         |  SELECT qc.query_id, subsp.s, qc.qv[subsp.s*8+1 : subsp.s*8+8] AS qs
         |  FROM qc CROSS JOIN subsp),
         |pcode AS (
         |  SELECT vec_id, s, cb_id AS code FROM (
         |    SELECT sub.vec_id, sub.s, t.cb_id,
         |      row_number() OVER (PARTITION BY sub.vec_id, sub.s ORDER BY
         |        round((${dotSql("sv", "sv", 8)}) + (${dotSql("cw", "cw", 8)})
         |          - 2.0 * (${dotSql("sv", "cw", 8)}), 6), t.cb_id) AS rnk
         |    FROM sub JOIN cbt_$PqTrainIters t USING (s)) WHERE rnk = 1),
         |pdt AS (
         |  SELECT query_id, qsub.s, t.cb_id,
         |    CAST(round(((${dotSql("qs", "qs", 8)}) + (${dotSql("cw", "cw", 8)})
         |      - 2.0 * (${dotSql("qs", "cw", 8)})) * 1e6, 0) AS BIGINT) AS pd_fp
         |  FROM qsub JOIN cbt_$PqTrainIters t USING (s)),
         |pagg AS (
         |  SELECT pdt.query_id, pcode.vec_id, CAST(sum(pdt.pd_fp) AS BIGINT) AS fp
         |  FROM pcode JOIN pdt ON pcode.s = pdt.s AND pcode.code = pdt.cb_id
         |  WHERE pcode.vec_id <> pdt.query_id
         |  GROUP BY 1, 2),
         |ptop AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT query_id, vec_id, row_number() OVER (
         |      PARTITION BY query_id ORDER BY fp, vec_id) AS rnk FROM pagg)
         |  WHERE rnk <= 3),
         |bn AS (SELECT vec_id, cv, sqrt(${dotSql("cv", "cv", 64)}) AS nc FROM c),
         |qn AS (SELECT query_id, qv, sqrt(${dotSql("qv", "qv", 64)}) AS nq FROM qc),
         |bscored AS (
         |  SELECT query_id, bn.vec_id,
         |    round((${dotSql("qv", "cv", 64)}) / (nq * nc), 6) AS cos_sim
         |  FROM bn CROSS JOIN qn WHERE bn.vec_id <> query_id),
         |branked AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS brnk
         |  FROM bscored),
         |btop AS (SELECT query_id, vec_id FROM branked WHERE brnk <= 3),
         |hits AS (
         |  SELECT b.query_id, CAST(count(*) AS BIGINT) AS h
         |  FROM btop b JOIN ptop i ON b.query_id = i.query_id AND b.vec_id = i.vec_id
         |  GROUP BY 1)
         |SELECT qq.query_id, round(coalesce(h, 0) / 3.0, 6) AS recall_at_3
         |FROM (SELECT DISTINCT query_id FROM qn) qq LEFT JOIN hits USING (query_id)
         |ORDER BY qq.query_id""".stripMargin,

    "q_semantic_dedup" ->
      s"""WITH nl AS (
         |  SELECT GREATEST(16, (count(*) + 255) // 256) AS nlist FROM embeddings),
         |cents AS (
         |  SELECT vec_id AS cent_id, embedding AS centv,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS ncent
         |  FROM embeddings ORDER BY vec_id LIMIT (SELECT nlist FROM nl)),
         |c AS (
         |  SELECT vec_id, embedding AS cv,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nc
         |  FROM embeddings),
         |scored AS (
         |  SELECT vec_id, cent_id, cv, nc,
         |    round((${dotSql("cv", "centv", 64)}) / (nc * ncent), 6) AS cent_sim
         |  FROM c CROSS JOIN cents),
         |asg AS (
         |  SELECT vec_id, cent_id, cv, nc,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cent_id) AS rnk
         |  FROM scored),
         |lists AS (SELECT cent_id, vec_id, cv, nc FROM asg WHERE rnk = 1),
         |pairs AS (
         |  SELECT a.cent_id AS cent_id, a.vec_id AS id_a, b.vec_id AS id_b,
         |    round((${dotSql("a.cv", "b.cv", 64)}) / (a.nc * b.nc), 6) AS cos_sim
         |  FROM lists a JOIN lists b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id)
         |SELECT cent_id, id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    "q_doc_chunks" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, ws, n_tokens,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(floor((n_tokens - 16 + 47) / 48.0) AS BIGINT)) AS n_chunks
        |  FROM t),
        |c AS (
        |  SELECT doc_id, ws, n_tokens,
        |    unnest(generate_series(0, n_chunks - 1)) AS chunk_id
        |  FROM n)
        |SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |  CAST(chunk_id * 48 + 1 AS BIGINT) AS start_token,
        |  CAST(least(64, n_tokens - chunk_id * 48) AS BIGINT) AS chunk_tokens,
        |  array_to_string(ws[(chunk_id * 48 + 1):(chunk_id * 48 + 64)], ' ') AS chunk_text
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "q_html_extract" ->
      """WITH pages AS (
        |  SELECT doc_id,
        |    '<html><head><title>' || source ||
        |    '</title><style type="text/css">p { color: red }</style>' ||
        |    '</head><body><script>var n = 1 &amp;&amp; 2;</script><p>' ||
        |    text ||
        |    ' &amp; more &lt;tags&gt;</p><div class="nav">home | about' ||
        |    '</div></body></html>' AS html
        |  FROM documents),
        |s1 AS (SELECT doc_id, html,
        |  regexp_replace(regexp_replace(html,
        |    '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
        |    '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS nb FROM pages),
        |s2 AS (SELECT doc_id, html,
        |  regexp_replace(nb, '(?s)<[^>]*>', ' ', 'g') AS nt FROM s1),
        |s3 AS (SELECT doc_id, html,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(nt, '&lt;', '<', 'g'), '&gt;', '>', 'g'),
        |    '&quot;', '"', 'g'), '&#39;', '''', 'g'),
        |    '&amp;', '&', 'g') AS decd FROM s2),
        |c AS (SELECT doc_id, html,
        |  trim(regexp_replace(decd, '\s+', ' ', 'g')) AS content FROM s3)
        |SELECT doc_id, content,
        |  round(CAST(length(content) AS DOUBLE) /
        |    CAST(greatest(length(html), 1) AS DOUBLE), 6) AS retained_frac
        |FROM c ORDER BY doc_id""".stripMargin,

    "q_url_dedup" ->
      """WITH urls AS (
        |  SELECT doc_id,
        |    'HTTPS://' || upper(source) || '.Example.COM' ||
        |    CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END ||
        |    '/Docs/' || CAST(doc_id % 40 AS VARCHAR) ||
        |    CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
        |    '?utm_source=feed&page=' || CAST(doc_id % 5 AS VARCHAR) ||
        |    '&utm_campaign=sync&gclid=g1' ||
        |    CASE WHEN doc_id % 4 = 0 THEN '#section-2' ELSE '' END AS url
        |  FROM documents),
        |c1 AS (SELECT doc_id, url,
        |  regexp_replace(url, '#.*$', '') AS nofrag FROM urls),
        |c2 AS (SELECT doc_id, url,
        |  lower(regexp_extract(nofrag, '^([^/?#]*//[^/?#]*)', 1)) ||
        |  regexp_replace(nofrag, '^[^/?#]*//[^/?#]*', '') AS lh FROM c1),
        |c3 AS (SELECT doc_id, url,
        |  regexp_replace(regexp_replace(lh,
        |    '^(https://[^/:?#]*):443($|[/?])', '\1\2'),
        |    '^(http://[^/:?#]*):80($|[/?])', '\1\2') AS np FROM c2),
        |c4 AS (SELECT doc_id, url,
        |  regexp_replace(regexp_replace(regexp_replace(np,
        |    '(?i)&(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*', '', 'g'),
        |    '(?i)\?(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*&', '?'),
        |    '(?i)\?(utm_[a-z]+|fbclid|gclid|ref)=[^&#]*$', '') AS ntr
        |  FROM c3),
        |c5 AS (SELECT doc_id, url,
        |  regexp_replace(ntr, '\?$', '') AS nq FROM c4),
        |c6 AS (SELECT doc_id, url,
        |  regexp_replace(nq, '^([a-z]+://[^/?]+/[^?]*[^/?])/(\?|$)', '\1\2') AS canonical_url
        |  FROM c5)
        |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(DISTINCT url) AS BIGINT) AS n_raw_variants,
        |  CAST(min(doc_id) AS BIGINT) AS keep_doc_id
        |FROM c6 GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,

    "q_bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS word FROM documents),
        |v AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w
        |  WHERE length(word) >= 2 GROUP BY word),
        |e AS (
        |  SELECT word, freq,
        |    unnest(generate_series(1, length(word) - 1)) AS i FROM v),
        |p AS (
        |  SELECT substring(word, CAST(i AS INTEGER), 2) AS pair, freq FROM e)
        |SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
        |FROM p GROUP BY pair
        |ORDER BY pair_count DESC, pair LIMIT 50""".stripMargin,

    "q_bpe_train" ->
      s"""${bpeChainSql(8)}
         |SELECT * FROM (
         |  ${(1 to 8).map(t =>
              s"""SELECT CAST(${t - 1} AS BIGINT) AS rank, l AS "left", r2 AS "right", cnt AS pair_count FROM m$t""")
                .mkString("\n  UNION ALL ")}
         |) ORDER BY rank""".stripMargin,

    "q_bpe_encode" ->
      s"""${bpeChainSql(8)},
         |dw AS (
         |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
         |  FROM documents),
         |e0 AS (
         |  SELECT doc_id, array_to_string(
         |    list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)),
         |    '  ') AS rep
         |  FROM dw WHERE length(word) >= 1),
         |${(1 to 8).map(t =>
            s"""e$t AS (SELECT doc_id, trim(replace(' ' || rep || ' ',
               |  (SELECT ' ' || l || '  ' || r2 || ' ' FROM m$t),
               |  (SELECT ' ' || l || r2 || ' ' FROM m$t))) AS rep FROM e${t - 1})""".stripMargin)
              .mkString(",\n")}
         |SELECT d.doc_id, CAST(coalesce(t.n, 0) AS BIGINT) AS bpe_tokens
         |FROM documents d LEFT JOIN (
         |  SELECT doc_id, sum(len(string_split(rep, '  '))) AS n FROM e8 GROUP BY 1) t
         |ON d.doc_id = t.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q_kn_bigram" -> knOracleSql(2, mkn = false, trainTokens("TRUE")),

    "q_bpe_vocab" ->
      s"""${bpeChainSql(8)},
         |v1 AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(string_split_regex(text, '\\s+')) AS word FROM documents)
         |  WHERE length(word) = 1 GROUP BY 1),
         |syms AS (
         |  SELECT unnest(string_split(rep, '  ')) AS symbol, freq FROM w8
         |  UNION ALL
         |  SELECT word AS symbol, freq FROM v1)
         |SELECT symbol, CAST(sum(freq) AS BIGINT) AS sym_count
         |FROM syms GROUP BY symbol
         |ORDER BY sym_count DESC, symbol""".stripMargin,

    "q_wordpiece_vocab" ->
      s"""${wordpieceChainSql(8, 2L)},
         |u1 AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(string_split_regex(text, '\\s+')) AS word FROM documents)
         |  WHERE length(word) = 1 GROUP BY 1),
         |wsyms AS (
         |  SELECT unnest(string_split(rep, '  ')) AS symbol, freq FROM v8
         |  UNION ALL
         |  SELECT word AS symbol, freq FROM u1)
         |SELECT symbol, CAST(sum(freq) AS BIGINT) AS sym_count
         |FROM wsyms GROUP BY symbol
         |ORDER BY sym_count DESC, symbol""".stripMargin,

    "q_kn3_persisted" -> knOracleSql(3, mkn = false, trainTokens("TRUE")),

    "q_kn3_positional" -> knOracleSql(3, mkn = false, trainTokens("TRUE")),

    "q_kn3_probed" ->
      knOracleSql(3, mkn = false, trainTokens("TRUE"), "doc_id % 25 = 0"),

    "q_mkn_trigram" -> knOracleSql(3, mkn = true, trainTokens("TRUE")),

    "q_mkn3_persisted" -> knOracleSql(3, mkn = true, trainTokens("TRUE")),

    "q_mkn_probed" ->
      knOracleSql(2, mkn = true, trainTokens("TRUE"), "doc_id % 25 = 0"),

    "q_mkn3_probed" ->
      knOracleSql(3, mkn = true, trainTokens("TRUE"), "doc_id % 25 = 0"),

    "q_kn5_persisted" -> knOracleSql(5, mkn = false, trainTokens("TRUE")),
    "q_kn5_pruned" -> knOracleSql(5, mkn = false, trainTokens("TRUE"),
      pruneMin = Seq(2L, 2L, 2L, 2L)),
    "q_mkn5_pruned" -> knOracleSql(5, mkn = true, trainTokens("TRUE"),
      pruneMin = Seq(2L, 2L, 2L, 2L)),
    // The vocabulary-capped order-5 build (maxVocab = 20): the model
    // trains on tokens whose below-top-20 words (by frequency, ties by
    // word ascending) map to `<unk>`; the RAW corpus scores against it,
    // so a capped-out word is a genuine OOV at serve time.
    "q_kn5_vocab" -> knOracleSql(5, mkn = false,
      s"""rtoks AS MATERIALIZED (
         |  ${oracleTokensSql("TRUE")}),
         |vtop AS (
         |  SELECT w FROM (SELECT w, count(*) AS cnt FROM rtoks GROUP BY w)
         |  ORDER BY cnt DESC, w LIMIT 20),
         |ttoks AS MATERIALIZED (
         |  SELECT r.doc_id, r.pos,
         |    CASE WHEN v.w IS NOT NULL THEN r.w ELSE '<unk>' END AS w
         |  FROM rtoks r LEFT JOIN vtop v ON r.w = v.w)""".stripMargin),
    // The composed CCNet gate (Wenzek et al. 2020 §4.3): language-ID (the
    // q_lang_mismatch stopword-voting CASE), the order-5 modified-KN
    // score, per-DETECTED-language terciles (ntile over (logprob DESC,
    // doc_id) — the q_ppl_buckets tiling), keep head+middle.
    "q_ccnet_gate" ->
      s"""WITH ${knOracleCtes(5, mkn = true, trainTokens("TRUE"))},
         |lsc AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN ('the','a','of','and','to'))) AS BIGINT) AS hits_en,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS hits_de,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN ('el','los','las','una','y'))) AS BIGINT) AS hits_es,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN ('le','les','et','est','dans'))) AS BIGINT) AS hits_fr,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x IN ('的','是','了','和','在'))) AS BIGINT) AS hits_zh
         |  FROM documents),
         |lp AS (
         |  SELECT doc_id,
         |    CASE
         |      WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
         |      WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
         |      WHEN hits_es >= hits_en AND hits_es >= hits_de AND hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
         |      WHEN hits_fr >= hits_en AND hits_fr >= hits_de AND hits_fr >= hits_es AND hits_fr >= hits_zh THEN 'fr'
         |      ELSE 'zh' END AS predicted_lang
         |  FROM lsc),
         |ld AS (
         |  SELECT lp.doc_id, lp.predicted_lang, lm.n_tokens, lm.logprob
         |  FROM lp JOIN lm USING (doc_id)),
         |rk AS (
         |  SELECT doc_id, predicted_lang, n_tokens, logprob,
         |    CAST(ntile(3) OVER (PARTITION BY predicted_lang
         |      ORDER BY logprob DESC, doc_id) AS BIGINT) AS tile
         |  FROM ld)
         |SELECT doc_id, predicted_lang, n_tokens, logprob, tile,
         |  CASE WHEN tile = 1 THEN 'head' WHEN tile = 3 THEN 'tail'
         |    ELSE 'middle' END AS bucket,
         |  tile < 3 AS kept
         |FROM rk ORDER BY doc_id""".stripMargin,

    "q_kn5_probed" ->
      knOracleSql(5, mkn = false, trainTokens("TRUE"), "doc_id % 25 = 0"),

    "q_kn5_holdout" ->
      knOracleSql(5, mkn = false, trainTokens("doc_id % 5 <> 0"), "doc_id % 5 = 0"),

    "q_kn5_persisted_holdout" ->
      knOracleSql(5, mkn = false, trainTokens("doc_id % 5 <> 0"), "doc_id % 5 = 0"),

    "q_mkn5_persisted" -> knOracleSql(5, mkn = true, trainTokens("TRUE")),

    "q_mkn5_probed" ->
      knOracleSql(5, mkn = true, trainTokens("TRUE"), "doc_id % 25 = 0"),

    "q_kn5_append" -> knOracleSql(5, mkn = false, trainTokens("TRUE")),

    "q_kn3_holdout" ->
      knOracleSql(3, mkn = false, trainTokens("doc_id % 5 <> 0"), "doc_id % 5 = 0"),

    "q_kn3_persisted_holdout" ->
      knOracleSql(3, mkn = false, trainTokens("doc_id % 5 <> 0"), "doc_id % 5 = 0"),

    "q_mkn_persisted" -> knOracleSql(2, mkn = true, trainTokens("TRUE")),

    "q_kn_trigram" -> knOracleSql(3, mkn = false, trainTokens("TRUE")),

    "q_mkn_bigram" -> knOracleSql(2, mkn = true, trainTokens("TRUE")),

    "q_ppl_buckets" ->
      s"""WITH ${knOracleCtes(2, mkn = false, trainTokens("TRUE"))},
         |ld AS (
         |  SELECT d.doc_id, d.lang, k.n_tokens, k.logprob
         |  FROM documents d JOIN lm k USING (doc_id)),
         |rk AS (
         |  SELECT doc_id, lang, n_tokens, logprob,
         |    CAST(ntile(3) OVER (PARTITION BY lang ORDER BY logprob DESC, doc_id)
         |      AS BIGINT) AS tile
         |  FROM ld)
         |SELECT doc_id, lang, n_tokens, logprob, tile,
         |  CASE WHEN tile = 1 THEN 'head' WHEN tile = 3 THEN 'tail'
         |    ELSE 'middle' END AS bucket,
         |  tile < 3 AS kept
         |FROM rk ORDER BY doc_id""".stripMargin,

    "q_corpus_shuffle" ->
      """WITH h AS (
        |  SELECT doc_id, source,
        |    ('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS fp
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (ORDER BY fp, doc_id) AS BIGINT) AS seq
        |  FROM h)
        |SELECT doc_id, source, seq,
        |  CAST((seq - 1) // 64 AS BIGINT) AS shard,
        |  CAST((seq - 1) % 64 AS BIGINT) AS pos
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_curriculum_order" ->
      s"""WITH ${knOracleCtes(2, mkn = false, trainTokens("TRUE"))},
         |ld AS (
         |  SELECT d.doc_id, d.lang, k.logprob
         |  FROM documents d JOIN lm k USING (doc_id)),
         |st AS (
         |  SELECT doc_id,
         |    CAST(ntile(3) OVER (PARTITION BY lang ORDER BY logprob DESC, doc_id)
         |      AS BIGINT) AS stage
         |  FROM ld),
         |h AS (
         |  SELECT doc_id, stage,
         |    ('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS fp
         |  FROM st),
         |r AS (
         |  SELECT doc_id, stage,
         |    CAST(row_number() OVER (ORDER BY stage, fp, doc_id) AS BIGINT) AS seq
         |  FROM h)
         |SELECT doc_id, stage, seq,
         |  CAST((seq - 1) // 64 AS BIGINT) AS shard,
         |  CAST((seq - 1) % 64 AS BIGINT) AS pos
         |FROM r ORDER BY doc_id""".stripMargin,

    "q_kn_score_holdout" ->
      knOracleSql(2, mkn = false, trainTokens("doc_id % 5 <> 0"), "doc_id % 5 = 0"),

    "q_kn_persisted" ->
      knOracleSql(2, mkn = false, trainTokens("doc_id % 5 <> 0"), "doc_id % 5 = 0"),

    "q_ppl_by_source" ->
      s"""WITH ${knOracleCtes(2, mkn = false, trainTokens("TRUE"))},
         |j AS (
         |  SELECT d.source,
         |    CAST(round(k.logprob * 1000000, 0) AS BIGINT) AS lp_fp,
         |    k.n_tokens
         |  FROM documents d JOIN lm k USING (doc_id))
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  round(CAST(sum(lp_fp * n_tokens) AS DOUBLE)
         |    / CAST(sum(n_tokens) AS DOUBLE) / 1000000.0, 6) AS mean_logprob
         |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "q_kn_probed" ->
      knOracleSql(2, mkn = false, trainTokens("doc_id % 5 <> 0"), "doc_id % 25 = 0"),

    "q_kn_append" ->
      knOracleSql(2, mkn = false, trainTokens("doc_id % 5 <> 0"), "doc_id % 5 = 0"),

    "q_kn_delete" ->
      knOracleSql(2, mkn = false, trainTokens("doc_id % 5 IN (1, 2)"), "doc_id % 5 = 0"),

    "q_wordpiece_train" ->
      s"""${wordpieceChainSql(8, 2L)}
         |SELECT * FROM (
         |  ${(1 to 8).map(t =>
              s"""SELECT CAST(${t - 1} AS BIGINT) AS rank, l AS "left", r2 AS "right", cnt AS pair_count, lc AS left_count, rc AS right_count FROM n$t""")
                .mkString("\n  UNION ALL ")}
         |) ORDER BY rank""".stripMargin,

    "q_wordpiece_encode" ->
      s"""${wordpieceChainSql(8, 2L)},
         |dw AS (
         |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
         |  FROM documents),
         |f0 AS (
         |  SELECT doc_id, array_to_string(
         |    list_transform(generate_series(1, length(word)), i -> substr(word, i, 1)),
         |    '  ') AS rep
         |  FROM dw WHERE length(word) >= 1),
         |${(1 to 8).map(t =>
            s"""f$t AS (SELECT doc_id, trim(replace(' ' || rep || ' ',
               |  (SELECT ' ' || l || '  ' || r2 || ' ' FROM n$t),
               |  (SELECT ' ' || l || r2 || ' ' FROM n$t))) AS rep FROM f${t - 1})""".stripMargin)
              .mkString(",\n")}
         |SELECT d.doc_id, CAST(coalesce(t.n, 0) AS BIGINT) AS wp_tokens
         |FROM documents d LEFT JOIN (
         |  SELECT doc_id, sum(len(string_split(rep, '  '))) AS n FROM f8 GROUP BY 1) t
         |ON d.doc_id = t.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q_ngram_novelty" ->
      s"""WITH $shingleCtes,
         |f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
         |SELECT s.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_ngrams,
         |  CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel_ngrams,
         |  round(CAST(sum(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END) AS DOUBLE) /
         |    CAST(count(*) AS DOUBLE), 6) AS novelty_frac
         |FROM sh s JOIN f USING (shingle)
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    "q_holdout_split" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN substring(md5(text), 1, 2) < '03' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        |  CAST(count(*) - sum(CASE WHEN substring(md5(text), 1, 2) < '03' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        |  round(CAST(sum(CASE WHEN substring(md5(text), 1, 2) < '03' THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(count(*) AS DOUBLE), 6) AS valid_frac
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_source_rank" ->
      s"""WITH $sourceRankSql
         |SELECT node AS source, r AS rank_fp,
         |  round(CAST(r AS DOUBLE) / 1000000000.0, 6) AS rank
         |FROM r5 ORDER BY source""".stripMargin,

    "q_split_leakage" ->
      s"""WITH $jaccardPairsCteSql,
         |sp AS (
         |  SELECT doc_id, substring(md5(text), 1, 2) < '03' AS is_valid
         |  FROM documents),
         |xp AS (
         |  SELECT CASE WHEN sa.is_valid THEN p.id_a ELSE p.id_b END AS doc_id
         |  FROM pairs p
         |  JOIN sp sa ON p.id_a = sa.doc_id
         |  JOIN sp sb ON p.id_b = sb.doc_id
         |  WHERE sa.is_valid <> sb.is_valid),
         |lk AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_train_neighbors
         |  FROM xp GROUP BY doc_id)
         |SELECT s.doc_id,
         |  coalesce(lk.n_train_neighbors, CAST(0 AS BIGINT)) AS n_train_neighbors,
         |  lk.doc_id IS NOT NULL AS is_leaked
         |FROM sp s LEFT JOIN lk USING (doc_id)
         |WHERE s.is_valid ORDER BY s.doc_id""".stripMargin,

    "q_paragraph_dedup_text" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, ws, n_tokens,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(floor((n_tokens + 31) / 32.0) AS BIGINT)) AS n_chunks
        |  FROM t),
        |c AS (
        |  SELECT doc_id, ws,
        |    unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM n),
        |h AS (
        |  SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
        |    array_to_string(ws[(chunk_id * 32 + 1):(chunk_id * 32 + 32)], ' ') AS chunk_text
        |  FROM c),
        |k AS (
        |  SELECT doc_id, chunk_id, chunk_text,
        |    row_number() OVER (PARTITION BY md5(chunk_text)
        |      ORDER BY doc_id, chunk_id) AS rn
        |  FROM h)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_paras,
        |  coalesce(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
        |    ORDER BY chunk_id), '') AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_lang_mismatch" ->
      """WITH scored AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), w -> w IN ('the','a','of','and','to'))) AS BIGINT) AS hits_en,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), w -> w IN ('der','die','das','und','ist'))) AS BIGINT) AS hits_de,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), w -> w IN ('el','los','las','una','y'))) AS BIGINT) AS hits_es,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), w -> w IN ('le','les','et','est','dans'))) AS BIGINT) AS hits_fr,
        |    CAST(len(list_filter(string_split_regex(text, '\s+'), w -> w IN ('的','是','了','和','在'))) AS BIGINT) AS hits_zh
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, lang,
        |    CASE
        |      WHEN hits_en >= hits_de AND hits_en >= hits_es AND hits_en >= hits_fr AND hits_en >= hits_zh THEN 'en'
        |      WHEN hits_de >= hits_en AND hits_de >= hits_es AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
        |      WHEN hits_es >= hits_en AND hits_es >= hits_de AND hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
        |      WHEN hits_fr >= hits_en AND hits_fr >= hits_de AND hits_fr >= hits_es AND hits_fr >= hits_zh THEN 'fr'
        |      ELSE 'zh' END AS predicted_lang
        |  FROM scored)
        |SELECT doc_id, lang, predicted_lang,
        |  lang <> predicted_lang AS is_mismatch
        |FROM p ORDER BY doc_id""".stripMargin,

    "q_hard_negatives" ->
      s"""WITH $shingleCtes,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT id_a, id_b,
         |  round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) AS jaccard
         |FROM pairs
         |JOIN sizes sa ON id_a = sa.doc_id
         |JOIN sizes sb ON id_b = sb.doc_id
         |WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.01
         |  AND round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) < 0.8
         |ORDER BY id_a, id_b""".stripMargin,

    "q_cms_freq" ->
      """WITH rows4 AS (SELECT unnest(generate_series(0, 3)) AS rw),
        |sk AS (
        |  SELECT rw, bucket, CAST(count(*) AS BIGINT) AS cell_count FROM (
        |    SELECT r.rw,
        |      CAST(('0x' || substr(md5(r.rw || ':' || CAST(e.user_id AS VARCHAR)), 1, 8))::UBIGINT % 64 AS BIGINT) AS bucket
        |    FROM events e CROSS JOIN rows4 r)
        |  GROUP BY rw, bucket),
        |probe AS (SELECT DISTINCT user_id FROM events WHERE user_id < 50),
        |pb AS (
        |  SELECT p.user_id, r.rw,
        |    CAST(('0x' || substr(md5(r.rw || ':' || CAST(p.user_id AS VARCHAR)), 1, 8))::UBIGINT % 64 AS BIGINT) AS bucket
        |  FROM probe p CROSS JOIN rows4 r),
        |est AS (
        |  SELECT pb.user_id, CAST(min(sk.cell_count) AS BIGINT) AS est_count
        |  FROM pb JOIN sk ON pb.rw = sk.rw AND pb.bucket = sk.bucket
        |  GROUP BY pb.user_id),
        |ex AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_count
        |  FROM events WHERE user_id < 50 GROUP BY user_id)
        |SELECT est.user_id, est.est_count, ex.exact_count,
        |  CAST(est.est_count - ex.exact_count AS BIGINT) AS overcount
        |FROM est JOIN ex USING (user_id) ORDER BY user_id""".stripMargin,

    "q_dd_quantiles" -> ddQuantilesOracleSql,

    // q_stream_quantiles is the SAME aggregator reached through the
    // streaming EventAnalytics.valueQuantiles path — identical oracle.
    "q_stream_quantiles" -> ddQuantilesOracleSql,

    "q_source_overlap_matrix" ->
      s"""WITH $jaccardPairsCteSql,
         |srcmap AS (SELECT doc_id, source FROM documents)
         |SELECT least(pa.source, pb.source) AS src_1,
         |  greatest(pa.source, pb.source) AS src_2,
         |  CAST(count(*) AS BIGINT) AS n_pairs
         |FROM pairs
         |JOIN srcmap pa ON pairs.id_a = pa.doc_id
         |JOIN srcmap pb ON pairs.id_b = pb.doc_id
         |WHERE pa.source <> pb.source
         |GROUP BY 1, 2 ORDER BY src_1, src_2""".stripMargin,

    "q_skew_report" ->
      """WITH c AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY user_id),
        |t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
        |top AS (SELECT user_id, cnt FROM c ORDER BY cnt DESC, user_id LIMIT 20)
        |SELECT user_id, cnt,
        |  round(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
        |  greatest(CAST(1 AS BIGINT),
        |    CAST(ceil(CAST(cnt AS DOUBLE) * 32 / CAST(total AS DOUBLE)) AS BIGINT))
        |    AS salt_factor
        |FROM top CROSS JOIN t ORDER BY cnt DESC, user_id""".stripMargin,

    // norm is dimension-AGNOSTIC (list_reduce left fold == FloatArrayDot's
    // sequential double accumulation) — a fixed 64-term dot chain would go
    // NULL on ragged vectors, the exact rows this audit exists to count
    "q_embedding_audit" ->
      s"""WITH base AS (
         |  SELECT label,
         |    CAST(len(embedding) AS BIGINT) AS dim,
         |    CASE WHEN len(embedding) = 0 THEN 0.0
         |         ELSE sqrt(list_reduce(
         |           list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
         |           (a, b) -> a + b)) END AS norm
         |  FROM embeddings)
         |SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
         |  CAST(sum(CASE WHEN dim <> 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_dim,
         |  CAST(sum(CASE WHEN norm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
         |  round(min(norm), 6) AS norm_min,
         |  round(max(norm), 6) AS norm_max,
         |  round(CAST(sum(CAST(round(norm * 1e6, 0) AS BIGINT)) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) / 1e6, 6) AS norm_mean
         |FROM base GROUP BY label ORDER BY label""".stripMargin,

    "q_cluster_sizes" ->
      s"""WITH $clusterChainSql,
         |cs AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM l5 GROUP BY cluster_id)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM cs GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,

    // Ensemble dedup: exact jaccard pairs UNION simhash hamming<=1 pairs,
    // then the shared 5-round label-propagation chain over the union.
    "q_dedup_ensemble" ->
      s"""WITH $jaccardPairsCteSql,
         |-- Width-adaptive simhash: the scnt guard mirrors
         |-- Dedup.simhashPairsAdaptive's count-derived 32/64 switch
         |-- integer-exactly; the unselected width's chain processes zero
         |-- rows (its WHERE is constant-false for this corpus).
         |scnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
         |stoks AS (
         |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS w FROM documents),
         |svotes AS (
         |  SELECT doc_id,
         |    $simhashVotesSql
         |  FROM stoks
         |  WHERE (SELECT n FROM scnt) <= ${graft.functions.Dedup.simhashWidthThreshold(1)}
         |  GROUP BY doc_id),
         |shashes AS (SELECT doc_id, $simhashValueSql AS simhash FROM svotes),
         |svotes64 AS (
         |  SELECT doc_id,
         |    $simhash64VotesSql
         |  FROM stoks
         |  WHERE (SELECT n FROM scnt) > ${graft.functions.Dedup.simhashWidthThreshold(1)}
         |  GROUP BY doc_id),
         |shashes64 AS (SELECT doc_id, $simhash64ValueSql AS simhash FROM svotes64),
         |spairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM shashes a JOIN shashes b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
         |  UNION ALL
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM shashes64 a JOIN shashes64 b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 1),
         |allp AS (SELECT id_a, id_b FROM pairs UNION SELECT id_a, id_b FROM spairs),
         |edges AS MATERIALIZED (
         |  -- MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and the
         |  -- unrolled label rounds reference edges/l(i-1) multiplicatively —
         |  -- without it the jaccard+simhash pair generation re-executes ~2^5
         |  -- times and the oracle runs minutes instead of seconds.
         |  SELECT id_a AS src, id_b AS dst FROM allp
         |  UNION ALL SELECT id_b, id_a FROM allp),
         |l0 AS (SELECT doc_id, doc_id AS cluster_id FROM documents),
         |$clusterRoundsSql,
         |cs AS (
         |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM l5 GROUP BY cluster_id)
         |SELECT l5.doc_id, l5.cluster_id, cs.cluster_size,
         |  l5.doc_id = l5.cluster_id AS is_kept
         |FROM l5 JOIN cs USING (cluster_id)
         |ORDER BY doc_id""".stripMargin,

    "q_curation_kept" ->
      s"""WITH $curationGatesCteSql
         |SELECT doc_id FROM gd
         |WHERE NOT g1_drop AND NOT g2_drop AND NOT g3_drop AND NOT g4_drop
         |ORDER BY doc_id""".stripMargin,

    "q_curation_funnel" ->
      s"""WITH $curationGatesCteSql,
         |a AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n0,
         |    CAST(sum(CASE WHEN NOT g1_drop THEN 1 ELSE 0 END) AS BIGINT) AS k1,
         |    CAST(sum(CASE WHEN NOT g1_drop AND NOT g2_drop THEN 1 ELSE 0 END) AS BIGINT) AS k2,
         |    CAST(sum(CASE WHEN NOT g1_drop AND NOT g2_drop AND NOT g3_drop THEN 1 ELSE 0 END) AS BIGINT) AS k3,
         |    CAST(sum(CASE WHEN NOT g1_drop AND NOT g2_drop AND NOT g3_drop AND NOT g4_drop THEN 1 ELSE 0 END) AS BIGINT) AS k4
         |  FROM gd)
         |SELECT * FROM (
         |  SELECT CAST(1 AS BIGINT) AS stage_order, 'exact_dedup' AS stage,
         |    n0 AS docs_in, k1 AS docs_kept, n0 - k1 AS docs_dropped FROM a
         |  UNION ALL SELECT CAST(2 AS BIGINT), 'near_dup_best_rep', k1, k2, k1 - k2 FROM a
         |  UNION ALL SELECT CAST(3 AS BIGINT), 'lang_mismatch', k2, k3, k2 - k3 FROM a
         |  UNION ALL SELECT CAST(4 AS BIGINT), 'quality_min', k3, k4, k3 - k4 FROM a)
         |ORDER BY stage_order""".stripMargin,

    "q_dedup_best_rep" ->
      s"""WITH $clusterChainSql,
         |q AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS qv FROM documents),
         |best AS (
         |  SELECT cluster_id, survivor_id FROM (
         |    SELECT l5.cluster_id, q.doc_id AS survivor_id,
         |      row_number() OVER (PARTITION BY l5.cluster_id
         |        ORDER BY q.qv DESC, q.doc_id) AS rn
         |    FROM l5 JOIN q USING (doc_id)) WHERE rn = 1)
         |SELECT l5.doc_id, l5.cluster_id, best.survivor_id,
         |  l5.doc_id = best.survivor_id AS is_kept
         |FROM l5 JOIN best USING (cluster_id) ORDER BY doc_id""".stripMargin,

    // hexThreshold(0.2) = floor(0.2 * 2^32) = 0x33333333
    "q_sim_histogram" ->
      s"""WITH a AS (
         |  SELECT vec_id AS id_a, embedding AS va,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS na
         |  FROM embeddings
         |  WHERE substring(md5('simA:' || vec_id), 1, 8) < '33333333'),
         |b AS (
         |  SELECT vec_id AS id_b, embedding AS vb,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nb
         |  FROM embeddings
         |  WHERE substring(md5('simB:' || vec_id), 1, 8) < '33333333'),
         |p AS (
         |  SELECT round((${dotSql("va", "vb", 64)}) / (na * nb), 6) AS cos_sim
         |  FROM a CROSS JOIN b WHERE id_a < id_b),
         |g AS (
         |  SELECT CAST(floor(cos_sim * 20) AS BIGINT) AS bucket,
         |    CAST(count(*) AS BIGINT) AS n_pairs
         |  FROM p GROUP BY 1)
         |SELECT bucket, n_pairs,
         |  round(CAST(bucket AS DOUBLE) / 20, 6) AS bucket_lo
         |FROM g ORDER BY bucket""".stripMargin,

    "q_diverse_sample" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cent_id, embedding AS centv,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS ncent
         |  FROM embeddings ORDER BY vec_id LIMIT 16),
         |c AS (
         |  SELECT vec_id, embedding AS cv,
         |         sqrt(${dotSql("embedding", "embedding", 64)}) AS nc
         |  FROM embeddings),
         |assign AS (
         |  SELECT vec_id, cent_id,
         |    row_number() OVER (PARTITION BY vec_id
         |      ORDER BY round((${dotSql("cv", "centv", 64)}) / (nc * ncent), 6) DESC, cent_id) AS arnk
         |  FROM c CROSS JOIN cents),
         |cells AS (SELECT vec_id, cent_id FROM assign WHERE arnk = 1),
         |sizes AS (SELECT cent_id, CAST(count(*) AS BIGINT) AS cell_n
         |  FROM cells GROUP BY 1),
         |keyed AS (
         |  SELECT vec_id, cent_id,
         |    substring(md5('divs:' || vec_id), 1, 8) || ':' ||
         |      CAST(vec_id AS VARCHAR) AS k
         |  FROM cells),
         |kept AS (
         |  SELECT vec_id, cent_id FROM (
         |    SELECT vec_id, cent_id,
         |      row_number() OVER (PARTITION BY cent_id ORDER BY k) AS rn
         |    FROM keyed) WHERE rn <= 20)
         |SELECT kept.vec_id, kept.cent_id, sizes.cell_n
         |FROM kept JOIN sizes USING (cent_id) ORDER BY vec_id""".stripMargin,

    "q_dedup_containment" ->
      s"""WITH $shingleCtes,
         |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
         |ip AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT id_a, id_b, inter, sa.n_sh AS n_a, sb.n_sh AS n_b
         |  FROM ip
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id),
         |d AS (
         |  SELECT
         |    CASE WHEN n_a <= n_b THEN id_a ELSE id_b END AS contained_id,
         |    CASE WHEN n_a <= n_b THEN id_b ELSE id_a END AS container_id,
         |    round(CAST(inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE), 6)
         |      AS containment
         |  FROM j)
         |SELECT contained_id, container_id, containment FROM d
         |WHERE containment >= 0.9
         |ORDER BY contained_id, container_id""".stripMargin,

    "q_dedup_triangles" ->
      s"""WITH $jaccardPairsCteSql,
         |e AS (SELECT id_a AS u, id_b AS v FROM pairs),
         |deg AS (
         |  SELECT x, CAST(count(*) AS BIGINT) AS d FROM (
         |    SELECT u AS x FROM e UNION ALL SELECT v FROM e) t GROUP BY x),
         |oe AS (
         |  SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS src,
         |    CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS dst,
         |    CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS kd
         |  FROM e JOIN deg du ON e.u = du.x JOIN deg dv ON e.v = dv.x),
         |tri AS (
         |  SELECT w1.src AS a, w1.dst AS b, w2.dst AS c
         |  FROM oe w1 JOIN oe w2
         |    ON w1.src = w2.src AND (w1.kd, w1.dst) < (w2.kd, w2.dst)
         |  JOIN oe e3 ON e3.src = w1.dst AND e3.dst = w2.dst),
         |pv AS (
         |  SELECT x, CAST(count(*) AS BIGINT) AS n FROM (
         |    SELECT a AS x FROM tri UNION ALL SELECT b FROM tri
         |    UNION ALL SELECT c FROM tri) t GROUP BY x)
         |SELECT deg.x AS node, coalesce(pv.n, CAST(0 AS BIGINT)) AS triangles
         |FROM deg LEFT JOIN pv ON deg.x = pv.x ORDER BY node""".stripMargin,

    "q_paragraph_dup" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(text, '\s+') AS ws,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |n AS (
        |  SELECT doc_id, ws, n_tokens,
        |    greatest(CAST(1 AS BIGINT),
        |      CAST(floor((n_tokens + 31) / 32.0) AS BIGINT)) AS n_chunks
        |  FROM t),
        |c AS (
        |  SELECT doc_id, ws,
        |    unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM n),
        |h AS (
        |  SELECT doc_id,
        |    md5(array_to_string(ws[(chunk_id * 32 + 1):(chunk_id * 32 + 32)], ' ')) AS ph
        |  FROM c),
        |d AS (SELECT ph, count(DISTINCT doc_id) AS n_docs FROM h GROUP BY ph),
        |j AS (SELECT h.doc_id, d.n_docs FROM h JOIN d USING (ph))
        |SELECT doc_id,
        |  CAST(count(*) AS BIGINT) AS n_paras,
        |  CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_paras,
        |  round(CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE) /
        |    CAST(greatest(count(*), 1) AS DOUBLE), 6) AS dup_frac
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_heavy_hitters" ->
      """WITH tok AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS w FROM documents),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok),
        |c AS (SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY w)
        |SELECT w, cnt,
        |  round(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS frac
        |FROM c CROSS JOIN tot
        |WHERE CAST(cnt AS DOUBLE) >= 0.001 * CAST(n_total AS DOUBLE)
        |ORDER BY cnt DESC, w""".stripMargin,

    "q_weighted_sample" ->
      """WITH t AS (
        |  SELECT lang, doc_id, n_chars,
        |    round(ln((('0x' || substr(md5('graft:' || lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 0.5)
        |        / 4294967296.0)
        |      / greatest(CAST(n_chars AS DOUBLE), 1e-9), 6) AS skey
        |  FROM documents),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY lang ORDER BY skey DESC, doc_id) AS BIGINT) AS rnk
        |  FROM t)
        |SELECT lang, doc_id, n_chars, skey, rnk FROM r WHERE rnk <= 20
        |ORDER BY lang, rnk""".stripMargin,

    // Temperature mixing replay: sqrt is IEEE-correctly-rounded in both
    // engines, the quota division is one correctly-rounded double divide
    // of exactly-representable longs, and row order is the shared
    // content-hash-uniform recipe — quotas and picks replay bit-exactly.
    "q_temperature_mix" -> temperatureMixOracleSql,

    // The keyed (domain-cardinality) variant computes the SAME quotas and
    // picks through keyed joins instead of whole-frame windows +
    // broadcasts — the oracle is literally the same SQL, pinning the plan
    // swap as a pure physical change.
    "q_temperature_mix_manykeys" -> temperatureMixOracleSql,

    // Top-up replay: exact HUGEINT quotient/remainder per key, remainder-
    // ranked +1 for the n - Σ floor leftover, then the population cap and
    // the shared hash-order pick — every comparison is integer-exact.
    "q_temperature_mix_topup" ->
      """WITH counts AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS keyn FROM documents GROUP BY 1),
        |weights AS (
        |  SELECT lang, keyn,
        |    CAST(round(sqrt(CAST(keyn AS DOUBLE)) * 1e6, 0) AS BIGINT) AS w6 FROM counts),
        |total AS (SELECT CAST(sum(w6) AS BIGINT) AS sumw6 FROM weights),
        |exact AS (
        |  SELECT lang, keyn,
        |    CAST((CAST(w6 AS HUGEINT) * 200) // CAST(sumw6 AS HUGEINT) AS BIGINT) AS q0,
        |    (CAST(w6 AS HUGEINT) * 200) % CAST(sumw6 AS HUGEINT) AS r
        |  FROM weights CROSS JOIN total),
        |topped AS (
        |  SELECT lang, keyn,
        |    q0 + CASE WHEN CAST(row_number() OVER (ORDER BY r DESC, lang ASC) AS BIGINT)
        |      <= 200 - (SELECT CAST(sum(q0) AS BIGINT) FROM exact) THEN 1 ELSE 0 END AS quota0
        |  FROM exact),
        |quotas AS (SELECT lang, least(quota0, keyn) AS quota FROM topped),
        |hashed AS (
        |  SELECT doc_id, lang,
        |    round(((('0x' || substr(md5('graft:' || lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 0.5)
        |      / 4294967296.0), 6) AS samp_u
        |  FROM documents),
        |ranked AS (
        |  SELECT h.doc_id, h.lang, q.quota,
        |    CAST(row_number() OVER (PARTITION BY h.lang ORDER BY h.samp_u ASC, h.doc_id ASC) AS BIGINT) AS rnk
        |  FROM hashed h JOIN quotas q USING (lang))
        |SELECT lang, doc_id, quota, rnk FROM ranked WHERE rnk <= quota
        |ORDER BY lang, rnk""".stripMargin,

    // Epoch plan replay: uncapped floor quotas, integer div/mod.
    "q_epoch_mix_plan" ->
      """WITH counts AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS keyn FROM documents GROUP BY 1),
        |weights AS (
        |  SELECT lang, keyn,
        |    CAST(round(sqrt(CAST(keyn AS DOUBLE)) * 1e6, 0) AS BIGINT) AS w6
        |  FROM counts),
        |total AS (SELECT CAST(sum(w6) AS BIGINT) AS sumw6 FROM weights)
        |SELECT lang, keyn,
        |  CAST(floor(1000.0 * CAST(w6 AS DOUBLE) / CAST(sumw6 AS DOUBLE)) AS BIGINT) AS quota,
        |  CAST(floor(1000.0 * CAST(w6 AS DOUBLE) / CAST(sumw6 AS DOUBLE)) AS BIGINT) // keyn AS epochs,
        |  CAST(floor(1000.0 * CAST(w6 AS DOUBLE) / CAST(sumw6 AS DOUBLE)) AS BIGINT) % keyn AS rem
        |FROM weights CROSS JOIN total ORDER BY lang""".stripMargin,

    // Expansion replay: per-row copy count from the plan + the shared
    // hash-order rank, unnested per epoch id.
    "q_epoch_mix_expand" ->
      """WITH counts AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS keyn FROM documents GROUP BY 1),
        |weights AS (
        |  SELECT lang, keyn,
        |    CAST(round(sqrt(CAST(keyn AS DOUBLE)) * 1e6, 0) AS BIGINT) AS w6
        |  FROM counts),
        |total AS (SELECT CAST(sum(w6) AS BIGINT) AS sumw6 FROM weights),
        |plan AS (
        |  SELECT lang, keyn,
        |    CAST(floor(1000.0 * CAST(w6 AS DOUBLE) / CAST(sumw6 AS DOUBLE)) AS BIGINT) // keyn AS epochs,
        |    CAST(floor(1000.0 * CAST(w6 AS DOUBLE) / CAST(sumw6 AS DOUBLE)) AS BIGINT) % keyn AS rem
        |  FROM weights CROSS JOIN total),
        |ranked AS (
        |  SELECT d.doc_id, d.lang, p.epochs, p.rem,
        |    CAST(row_number() OVER (PARTITION BY d.lang ORDER BY
        |      round(((('0x' || substr(md5('graft:' || d.lang || ':' || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT + 0.5)
        |        / 4294967296.0), 6) ASC, d.doc_id ASC) AS BIGINT) AS rnk
        |  FROM documents d JOIN plan p USING (lang)),
        |copies AS (
        |  SELECT doc_id, lang,
        |    epochs + CASE WHEN rnk <= rem THEN 1 ELSE 0 END AS c
        |  FROM ranked)
        |SELECT lang, doc_id, CAST(unnest(generate_series(0, c - 1)) AS BIGINT) AS epoch
        |FROM copies WHERE c > 0
        |ORDER BY lang, doc_id, epoch""".stripMargin,

    // Token-budget replay: exact long sums per key, the same sqrt/division
    // exactness argument, and the keep/drop decision is an integer
    // comparison on a hash-order cumulative sum.
    "q_temperature_mix_tokens" ->
      """WITH sums AS (
        |  SELECT lang, CAST(sum(CAST(n_chars AS BIGINT)) AS BIGINT) AS keyw
        |  FROM documents GROUP BY 1),
        |weights AS (
        |  SELECT lang, keyw,
        |    CAST(round(sqrt(CAST(keyw AS DOUBLE)) * 1e6, 0) AS BIGINT) AS w6
        |  FROM sums),
        |total AS (SELECT CAST(sum(w6) AS BIGINT) AS sumw6 FROM weights),
        |quotas AS (
        |  SELECT lang, least(
        |    CAST(floor(60000.0 * CAST(w6 AS DOUBLE) / CAST(sumw6 AS DOUBLE)) AS BIGINT),
        |    keyw) AS quota
        |  FROM weights CROSS JOIN total),
        |hashed AS (
        |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS wgt,
        |    round(((('0x' || substr(md5('graft:' || lang || ':' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 0.5)
        |      / 4294967296.0), 6) AS samp_u
        |  FROM documents),
        |cums AS (
        |  SELECT h.lang, h.doc_id, q.quota,
        |    CAST(sum(h.wgt) OVER (PARTITION BY h.lang
        |      ORDER BY h.samp_u ASC, h.doc_id ASC ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        |  FROM hashed h JOIN quotas q USING (lang)
        |  WHERE h.wgt <= q.quota AND h.wgt > 0)
        |SELECT lang, doc_id, quota, cum FROM cums WHERE cum <= quota
        |ORDER BY lang, cum""".stripMargin,

    // Mix→shard→pack composition replay: the epoch-expand chain verbatim,
    // then per-copy hash shard/order and the per-shard packing prefix sum.
    "q_mix_shards" ->
      """WITH counts AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS keyn FROM documents GROUP BY 1),
        |weights AS (
        |  SELECT lang, keyn,
        |    CAST(round(sqrt(CAST(keyn AS DOUBLE)) * 1e6, 0) AS BIGINT) AS w6
        |  FROM counts),
        |total AS (SELECT CAST(sum(w6) AS BIGINT) AS sumw6 FROM weights),
        |plan AS (
        |  SELECT lang, keyn,
        |    CAST(floor(1000.0 * CAST(w6 AS DOUBLE) / CAST(sumw6 AS DOUBLE)) AS BIGINT) // keyn AS epochs,
        |    CAST(floor(1000.0 * CAST(w6 AS DOUBLE) / CAST(sumw6 AS DOUBLE)) AS BIGINT) % keyn AS rem
        |  FROM weights CROSS JOIN total),
        |ranked AS (
        |  SELECT d.doc_id, d.lang,
        |    CAST(len(string_split_regex(d.text, '\s+')) AS BIGINT) AS n_tokens,
        |    p.epochs, p.rem,
        |    CAST(row_number() OVER (PARTITION BY d.lang ORDER BY
        |      round(((('0x' || substr(md5('graft:' || d.lang || ':' || CAST(d.doc_id AS VARCHAR)), 1, 8))::UBIGINT + 0.5)
        |        / 4294967296.0), 6) ASC, d.doc_id ASC) AS BIGINT) AS rnk
        |  FROM documents d JOIN plan p USING (lang)),
        |mixed AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(unnest(generate_series(0,
        |      epochs + CASE WHEN rnk <= rem THEN 1 ELSE 0 END - 1)) AS BIGINT) AS epoch
        |  FROM ranked WHERE epochs + CASE WHEN rnk <= rem THEN 1 ELSE 0 END > 0),
        |sharded AS (
        |  SELECT lang, doc_id, epoch, n_tokens,
        |    CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)), 1, 8))::UBIGINT % 8 AS BIGINT) AS shard,
        |    substr(md5('order:' || CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)), 1, 16) AS order_key
        |  FROM mixed),
        |packed AS (
        |  SELECT lang, doc_id, epoch, shard, n_tokens,
        |    CAST(row_number() OVER win AS BIGINT) AS position,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard
        |      ORDER BY order_key, doc_id, epoch ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM sharded WINDOW win AS (PARTITION BY shard ORDER BY order_key, doc_id, epoch))
        |SELECT lang, doc_id, epoch, shard, position,
        |  CAST(floor((cum_tokens - n_tokens) / 512.0) AS BIGINT) AS pack_id,
        |  n_tokens, cum_tokens
        |FROM packed ORDER BY shard, position""".stripMargin,

    // North-star replay: the corpus-prep quality+dedup CTEs verbatim,
    // then the temperature-mix quota/pick recipe over the SURVIVORS, then
    // the per-copy shard/order hash and the per-shard packing prefix sum
    // — every stage is the already-pinned fragment of its parent oracle.
    "q_pipeline_manifest" ->
      s"""WITH $shingleCtes,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |losers AS (
         |  SELECT DISTINCT id_b AS doc_id FROM prs
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.8),
         |scored AS (
         |  SELECT doc_id, lang, text,
         |    CAST(len(string_split_regex(text, '\\s+')) AS DOUBLE) AS n_words,
         |    round(CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
         |          / CAST(greatest(length(text), 1) AS DOUBLE), 6) AS punct_ratio,
         |    CAST(len(list_filter(string_split_regex(text, '\\s+'), w -> w IN ('the','a','of','and','to'))) AS DOUBLE) AS stop_hits
         |  FROM documents),
         |survivors AS (
         |  SELECT doc_id, lang, text,
         |    round(0.4 * (least(n_words, 100.0) / 100.0)
         |        + 0.3 * (1.0 - punct_ratio)
         |        + 0.3 * least(stop_hits / greatest(n_words, 1.0) * 5.0, 1.0), 6) AS quality
         |  FROM scored
         |  WHERE round(0.4 * (least(n_words, 100.0) / 100.0)
         |        + 0.3 * (1.0 - punct_ratio)
         |        + 0.3 * least(stop_hits / greatest(n_words, 1.0) * 5.0, 1.0), 6) >= 0.6
         |    AND doc_id NOT IN (SELECT doc_id FROM losers)),
         |counts AS (
         |  SELECT lang, CAST(count(*) AS DOUBLE) AS cnt FROM survivors GROUP BY 1),
         |weights AS (
         |  SELECT lang, CAST(cnt AS BIGINT) AS keyn,
         |    CAST(round(sqrt(cnt) * 1e6, 0) AS BIGINT) AS w6 FROM counts),
         |total AS (SELECT CAST(sum(w6) AS BIGINT) AS sumw6 FROM weights),
         |quotas AS (
         |  SELECT lang, least(
         |    CAST(floor(200.0 * CAST(w6 AS DOUBLE) / CAST(sumw6 AS DOUBLE)) AS BIGINT),
         |    keyn) AS quota
         |  FROM weights CROSS JOIN total),
         |ranked AS (
         |  SELECT s.doc_id, s.lang, s.quality, s.text, q.quota,
         |    CAST(row_number() OVER (PARTITION BY s.lang ORDER BY
         |      round(((('0x' || substr(md5('graft:' || s.lang || ':' || CAST(s.doc_id AS VARCHAR)), 1, 8))::UBIGINT + 0.5)
         |        / 4294967296.0), 6) ASC, s.doc_id ASC) AS BIGINT) AS rnk
         |  FROM survivors s JOIN quotas q USING (lang)),
         |picked AS (SELECT doc_id, lang, quality, text FROM ranked WHERE rnk <= quota),
         |sharded AS (
         |  SELECT lang, doc_id, quality,
         |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
         |    CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 8 AS BIGINT) AS shard,
         |    substr(md5('order:' || CAST(doc_id AS VARCHAR)), 1, 16) AS order_key
         |  FROM picked),
         |packed AS (
         |  SELECT lang, doc_id, quality, shard, n_tokens,
         |    CAST(row_number() OVER win AS BIGINT) AS position,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY order_key, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM sharded WINDOW win AS (PARTITION BY shard ORDER BY order_key, doc_id))
         |SELECT lang, doc_id, quality, shard, position,
         |  CAST(floor((cum_tokens - n_tokens) / 512.0) AS BIGINT) AS pack_id,
         |  n_tokens, cum_tokens
         |FROM packed ORDER BY shard, position""".stripMargin,

    // v2: the trained-filter gate replaces the heuristic — the 20-step GD
    // chain (trained on the 80% split) scores every document via the
    // holdout-style eval CTE, the gate keeps score >= 0.5, and the rest of
    // the chain (losers anti-join, sqrt-temperature quotas, hash shard +
    // order, 512-token packing) is v1's verbatim.
    "q_pipeline_manifest_v2" ->
      s"""${lrChainSql(20, "1.0", " WHERE doc_id % 5 <> 0")},
         |${lrFeatureSelectSql("ev", "")},
         |evz AS (SELECT doc_id,
         |  ${lrFeatureNames.map(n =>
              s"floor(($n - mean_$n) / (CASE WHEN std_$n < 0.000001 THEN 1.0 ELSE std_$n END) * 1000000.0 + 0.5) / 1000000.0 AS $n")
                .mkString(",\n  ")}
         |  FROM ev CROSS JOIN sc),
         |lsc AS MATERIALIZED (SELECT doc_id,
         |  floor(1.0 / (1.0 + exp(-($lrZFinal))) * 1000000.0 + 0.5) / 1000000.0 AS score
         |  FROM evz CROSS JOIN s20),
         |$shingleCtes,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |prs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |losers AS (
         |  SELECT DISTINCT id_b AS doc_id FROM prs
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6) >= 0.8),
         |survivors AS (
         |  SELECT d.doc_id, d.lang, d.text, l.score
         |  FROM documents d JOIN lsc l USING (doc_id)
         |  WHERE l.score >= 0.5
         |    AND d.doc_id NOT IN (SELECT doc_id FROM losers)),
         |counts AS (
         |  SELECT lang, CAST(count(*) AS DOUBLE) AS cnt FROM survivors GROUP BY 1),
         |weights AS (
         |  SELECT lang, CAST(cnt AS BIGINT) AS keyn,
         |    CAST(round(sqrt(cnt) * 1e6, 0) AS BIGINT) AS w6 FROM counts),
         |total AS (SELECT CAST(sum(w6) AS BIGINT) AS sumw6 FROM weights),
         |quotas AS (
         |  SELECT lang, least(
         |    CAST(floor(200.0 * CAST(w6 AS DOUBLE) / CAST(sumw6 AS DOUBLE)) AS BIGINT),
         |    keyn) AS quota
         |  FROM weights CROSS JOIN total),
         |ranked AS (
         |  SELECT s.doc_id, s.lang, s.score, s.text, q.quota,
         |    CAST(row_number() OVER (PARTITION BY s.lang ORDER BY
         |      round(((('0x' || substr(md5('graft:' || s.lang || ':' || CAST(s.doc_id AS VARCHAR)), 1, 8))::UBIGINT + 0.5)
         |        / 4294967296.0), 6) ASC, s.doc_id ASC) AS BIGINT) AS rnk
         |  FROM survivors s JOIN quotas q USING (lang)),
         |picked AS (SELECT doc_id, lang, score, text FROM ranked WHERE rnk <= quota),
         |sharded AS (
         |  SELECT lang, doc_id, score,
         |    CAST(len(string_split_regex(text, '\\s+')) AS BIGINT) AS n_tokens,
         |    CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 8 AS BIGINT) AS shard,
         |    substr(md5('order:' || CAST(doc_id AS VARCHAR)), 1, 16) AS order_key
         |  FROM picked),
         |packed AS (
         |  SELECT lang, doc_id, score, shard, n_tokens,
         |    CAST(row_number() OVER win AS BIGINT) AS position,
         |    CAST(sum(n_tokens) OVER (PARTITION BY shard
         |      ORDER BY order_key, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM sharded WINDOW win AS (PARTITION BY shard ORDER BY order_key, doc_id))
         |SELECT lang, doc_id, score, shard, position,
         |  CAST(floor((cum_tokens - n_tokens) / 512.0) AS BIGINT) AS pack_id,
         |  n_tokens, cum_tokens
         |FROM packed ORDER BY shard, position""".stripMargin,

    // DSIR: the oracle replays the full pipeline — hashed unigram+bigram
    // features (md5 % 4096, the cross-engine uniform-hash idiom), Laplace-
    // smoothed bucket multinomials for both corpora, per-feature log
    // ratios fixed-pointed to 1e-6 BIGINTs before the per-doc sum.
    "q_dsir_weights" ->
      """WITH rawtok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents),
        |rawpt AS (
        |  SELECT doc_id, w, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM rawtok),
        |rawf AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(f), 1, 8))::UBIGINT % 4096 AS BIGINT) AS bucket
        |  FROM (
        |    SELECT doc_id, w AS f FROM rawpt
        |    UNION ALL
        |    SELECT doc_id, prev || ' ' || w AS f FROM rawpt WHERE prev IS NOT NULL) AS u),
        |tgttok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents WHERE lang = 'en'),
        |tgtpt AS (
        |  SELECT doc_id, w, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM tgttok),
        |tgtf AS (
        |  SELECT CAST(('0x' || substr(md5(f), 1, 8))::UBIGINT % 4096 AS BIGINT) AS bucket
        |  FROM (
        |    SELECT w AS f FROM tgtpt
        |    UNION ALL
        |    SELECT prev || ' ' || w AS f FROM tgtpt WHERE prev IS NOT NULL) AS u),
        |rawb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM rawf GROUP BY 1),
        |tgtb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tc FROM tgtf GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(rc) AS DOUBLE) FROM rawb) AS tr,
        |               (SELECT coalesce(CAST(sum(tc) AS DOUBLE), 0.0) FROM tgtb) AS tt),
        |ratio AS (
        |  SELECT r.bucket,
        |    CAST(round((ln((coalesce(t.tc, 0) + 1.0) / (tot.tt + 4096.0))
        |              - ln((r.rc + 1.0) / (tot.tr + 4096.0))) * 1000000, 0) AS BIGINT) AS lr
        |  FROM rawb r LEFT JOIN tgtb t USING (bucket) CROSS JOIN tot),
        |agg AS (
        |  SELECT rawf.doc_id, CAST(count(*) AS BIGINT) AS n_feats, CAST(sum(lr) AS BIGINT) AS s
        |  FROM rawf JOIN ratio USING (bucket) GROUP BY 1)
        |SELECT doc_id, n_feats, round(CAST(s AS DOUBLE) / 1000000.0, 6) AS log_w
        |FROM agg ORDER BY doc_id""".stripMargin,

    // Corpus drift: the oracle replays the bucket multinomials and the
    // per-bucket JS/L1 terms at the same 1e-9 fixed point.
    "q_corpus_drift" ->
      """WITH atok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents WHERE lang = 'en'),
        |apt AS (
        |  SELECT doc_id, w, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM atok),
        |af AS (
        |  SELECT CAST(('0x' || substr(md5(f), 1, 8))::UBIGINT % 4096 AS BIGINT) AS bucket
        |  FROM (
        |    SELECT w AS f FROM apt
        |    UNION ALL
        |    SELECT prev || ' ' || w AS f FROM apt WHERE prev IS NOT NULL) AS u),
        |btok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents WHERE lang <> 'en'),
        |bpt AS (
        |  SELECT doc_id, w, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM btok),
        |bf AS (
        |  SELECT CAST(('0x' || substr(md5(f), 1, 8))::UBIGINT % 4096 AS BIGINT) AS bucket
        |  FROM (
        |    SELECT w AS f FROM bpt
        |    UNION ALL
        |    SELECT prev || ' ' || w AS f FROM bpt WHERE prev IS NOT NULL) AS u),
        |ab AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ca FROM af GROUP BY 1),
        |bb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cb FROM bf GROUP BY 1),
        |tot AS (SELECT (SELECT coalesce(CAST(sum(ca) AS DOUBLE), 0.0) FROM ab) AS ta,
        |               (SELECT coalesce(CAST(sum(cb) AS DOUBLE), 0.0) FROM bb) AS tb),
        |terms AS (
        |  SELECT
        |    CAST(round((CASE WHEN coalesce(ca, 0) > 0
        |        THEN (ca / greatest(ta, 1.0)) * ln((ca / greatest(ta, 1.0))
        |          / ((coalesce(ca, 0) / greatest(ta, 1.0) + coalesce(cb, 0) / greatest(tb, 1.0)) / 2.0))
        |        ELSE 0.0 END
        |      + CASE WHEN coalesce(cb, 0) > 0
        |        THEN (cb / greatest(tb, 1.0)) * ln((cb / greatest(tb, 1.0))
        |          / ((coalesce(ca, 0) / greatest(ta, 1.0) + coalesce(cb, 0) / greatest(tb, 1.0)) / 2.0))
        |        ELSE 0.0 END) / 2.0 * 1000000000, 0) AS BIGINT) AS js9,
        |    CAST(round(abs(coalesce(ca, 0) / greatest(ta, 1.0)
        |      - coalesce(cb, 0) / greatest(tb, 1.0)) * 1000000000, 0) AS BIGINT) AS l19,
        |    CAST(ca IS NOT NULL AS BIGINT) AS ia,
        |    CAST(cb IS NOT NULL AS BIGINT) AS ib,
        |    CAST(ca IS NOT NULL AND cb IS NOT NULL AS BIGINT) AS ish
        |  FROM ab FULL OUTER JOIN bb USING (bucket) CROSS JOIN tot)
        |SELECT
        |  round(CAST(sum(js9) AS DOUBLE) / 1000000000.0, 6) AS js_divergence,
        |  round(CAST(sum(l19) AS DOUBLE) / 1000000000.0, 6) AS l1_distance,
        |  CAST(sum(ia) AS BIGINT) AS buckets_a,
        |  CAST(sum(ib) AS BIGINT) AS buckets_b,
        |  CAST(sum(ish) AS BIGINT) AS buckets_shared
        |FROM terms""".stripMargin,

    // Per-source drift: the scalar drift oracle with the comparison grid
    // expanded to sources x baseline buckets, grouped per source.
    "q_drift_by_source" ->
      """WITH atok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents),
        |apt AS (
        |  SELECT doc_id, w, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM atok),
        |af AS (
        |  SELECT CAST(('0x' || substr(md5(f), 1, 8))::UBIGINT % 4096 AS BIGINT) AS bucket
        |  FROM (
        |    SELECT w AS f FROM apt
        |    UNION ALL
        |    SELECT prev || ' ' || w AS f FROM apt WHERE prev IS NOT NULL) AS u),
        |ab AS (SELECT bucket, CAST(count(*) AS BIGINT) AS ca FROM af GROUP BY 1),
        |tat AS (SELECT coalesce(CAST(sum(ca) AS DOUBLE), 0.0) AS ta FROM ab),
        |stok AS (
        |  SELECT doc_id, source,
        |    unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents),
        |spt AS (
        |  SELECT doc_id, source, w,
        |    lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM stok),
        |sf AS (
        |  SELECT source, CAST(('0x' || substr(md5(f), 1, 8))::UBIGINT % 4096 AS BIGINT) AS bucket
        |  FROM (
        |    SELECT source, w AS f FROM spt
        |    UNION ALL
        |    SELECT source, prev || ' ' || w AS f FROM spt WHERE prev IS NOT NULL) AS u),
        |sb AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS cb FROM sf GROUP BY 1, 2),
        |stot AS (SELECT source, CAST(sum(cb) AS DOUBLE) AS tb FROM sb GROUP BY 1),
        |grid AS (
        |  SELECT s.source, ab.bucket, ab.ca
        |  FROM (SELECT DISTINCT source FROM sb) s CROSS JOIN ab),
        |j AS (
        |  SELECT source, bucket, ca, cb
        |  FROM grid FULL OUTER JOIN sb USING (source, bucket)),
        |terms AS (
        |  SELECT j.source,
        |    CAST(round((CASE WHEN coalesce(ca, 0) > 0
        |        THEN (ca / greatest(ta, 1.0)) * ln((ca / greatest(ta, 1.0))
        |          / ((coalesce(ca, 0) / greatest(ta, 1.0) + coalesce(cb, 0) / greatest(tb, 1.0)) / 2.0))
        |        ELSE 0.0 END
        |      + CASE WHEN coalesce(cb, 0) > 0
        |        THEN (cb / greatest(tb, 1.0)) * ln((cb / greatest(tb, 1.0))
        |          / ((coalesce(ca, 0) / greatest(ta, 1.0) + coalesce(cb, 0) / greatest(tb, 1.0)) / 2.0))
        |        ELSE 0.0 END) / 2.0 * 1000000000, 0) AS BIGINT) AS js9,
        |    CAST(round(abs(coalesce(ca, 0) / greatest(ta, 1.0)
        |      - coalesce(cb, 0) / greatest(tb, 1.0)) * 1000000000, 0) AS BIGINT) AS l19,
        |    CAST(ca IS NOT NULL AS BIGINT) AS ia,
        |    CAST(cb IS NOT NULL AS BIGINT) AS ib,
        |    CAST(ca IS NOT NULL AND cb IS NOT NULL AS BIGINT) AS ish
        |  FROM j JOIN stot USING (source) CROSS JOIN tat)
        |SELECT source,
        |  round(CAST(sum(js9) AS DOUBLE) / 1000000000.0, 6) AS js_divergence,
        |  round(CAST(sum(l19) AS DOUBLE) / 1000000000.0, 6) AS l1_distance,
        |  CAST(sum(ia) AS BIGINT) AS buckets_a,
        |  CAST(sum(ib) AS BIGINT) AS buckets_b,
        |  CAST(sum(ish) AS BIGINT) AS buckets_shared
        |FROM terms GROUP BY source ORDER BY source""".stripMargin,

    // DSIR selection: weights + content-hash Gumbel, both 1e-6 fixed-point
    // BIGINTs, ranked by their exact integer sum.
    "q_dsir_sample" ->
      """WITH rawtok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents),
        |rawpt AS (
        |  SELECT doc_id, w, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM rawtok),
        |rawf AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(f), 1, 8))::UBIGINT % 4096 AS BIGINT) AS bucket
        |  FROM (
        |    SELECT doc_id, w AS f FROM rawpt
        |    UNION ALL
        |    SELECT doc_id, prev || ' ' || w AS f FROM rawpt WHERE prev IS NOT NULL) AS u),
        |tgttok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents WHERE lang = 'en'),
        |tgtpt AS (
        |  SELECT doc_id, w, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM tgttok),
        |tgtf AS (
        |  SELECT CAST(('0x' || substr(md5(f), 1, 8))::UBIGINT % 4096 AS BIGINT) AS bucket
        |  FROM (
        |    SELECT w AS f FROM tgtpt
        |    UNION ALL
        |    SELECT prev || ' ' || w AS f FROM tgtpt WHERE prev IS NOT NULL) AS u),
        |rawb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM rawf GROUP BY 1),
        |tgtb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tc FROM tgtf GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(rc) AS DOUBLE) FROM rawb) AS tr,
        |               (SELECT coalesce(CAST(sum(tc) AS DOUBLE), 0.0) FROM tgtb) AS tt),
        |ratio AS (
        |  SELECT r.bucket,
        |    CAST(round((ln((coalesce(t.tc, 0) + 1.0) / (tot.tt + 4096.0))
        |              - ln((r.rc + 1.0) / (tot.tr + 4096.0))) * 1000000, 0) AS BIGINT) AS lr
        |  FROM rawb r LEFT JOIN tgtb t USING (bucket) CROSS JOIN tot),
        |agg AS (
        |  SELECT rawf.doc_id, CAST(count(*) AS BIGINT) AS n_feats, CAST(sum(lr) AS BIGINT) AS s
        |  FROM rawf JOIN ratio USING (bucket) GROUP BY 1),
        |w AS (
        |  SELECT doc_id, n_feats, round(CAST(s AS DOUBLE) / 1000000.0, 6) AS log_w FROM agg),
        |keyed AS (
        |  SELECT doc_id, n_feats, log_w,
        |    CAST(round(log_w * 1000000, 0) AS BIGINT)
        |    + CAST(round(-ln(-ln((('0x' || substr(md5('graft:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 0.5)
        |        / 4294967296.0)) * 1000000, 0) AS BIGINT) AS skey
        |  FROM w),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY skey DESC, doc_id) AS BIGINT) AS rnk
        |  FROM keyed)
        |SELECT doc_id, n_feats, log_w, skey, rnk FROM r WHERE rnk <= 25
        |ORDER BY rnk""".stripMargin,

    // Per-source DSIR: same weights, stratum folded into the Gumbel hash,
    // rank windowed per source.
    "q_dsir_sample_strat" ->
      """WITH rawtok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents),
        |rawpt AS (
        |  SELECT doc_id, w, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM rawtok),
        |rawf AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(f), 1, 8))::UBIGINT % 4096 AS BIGINT) AS bucket
        |  FROM (
        |    SELECT doc_id, w AS f FROM rawpt
        |    UNION ALL
        |    SELECT doc_id, prev || ' ' || w AS f FROM rawpt WHERE prev IS NOT NULL) AS u),
        |tgttok AS (
        |  SELECT doc_id,
        |    unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents WHERE lang = 'en'),
        |tgtpt AS (
        |  SELECT doc_id, w, lag(w) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
        |  FROM tgttok),
        |tgtf AS (
        |  SELECT CAST(('0x' || substr(md5(f), 1, 8))::UBIGINT % 4096 AS BIGINT) AS bucket
        |  FROM (
        |    SELECT w AS f FROM tgtpt
        |    UNION ALL
        |    SELECT prev || ' ' || w AS f FROM tgtpt WHERE prev IS NOT NULL) AS u),
        |rawb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS rc FROM rawf GROUP BY 1),
        |tgtb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS tc FROM tgtf GROUP BY 1),
        |tot AS (SELECT (SELECT CAST(sum(rc) AS DOUBLE) FROM rawb) AS tr,
        |               (SELECT coalesce(CAST(sum(tc) AS DOUBLE), 0.0) FROM tgtb) AS tt),
        |ratio AS (
        |  SELECT r.bucket,
        |    CAST(round((ln((coalesce(t.tc, 0) + 1.0) / (tot.tt + 4096.0))
        |              - ln((r.rc + 1.0) / (tot.tr + 4096.0))) * 1000000, 0) AS BIGINT) AS lr
        |  FROM rawb r LEFT JOIN tgtb t USING (bucket) CROSS JOIN tot),
        |agg AS (
        |  SELECT rawf.doc_id, CAST(sum(lr) AS BIGINT) AS s
        |  FROM rawf JOIN ratio USING (bucket) GROUP BY 1),
        |w AS (
        |  SELECT d.source, agg.doc_id, round(CAST(s AS DOUBLE) / 1000000.0, 6) AS log_w
        |  FROM agg JOIN documents d ON agg.doc_id = d.doc_id),
        |keyed AS (
        |  SELECT source, doc_id, log_w,
        |    CAST(round(log_w * 1000000, 0) AS BIGINT)
        |    + CAST(round(-ln(-ln((('0x' || substr(md5('graft:' || source || ':' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT + 0.5)
        |        / 4294967296.0)) * 1000000, 0) AS BIGINT) AS skey
        |  FROM w),
        |r AS (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY source ORDER BY skey DESC, doc_id) AS BIGINT) AS rnk
        |  FROM keyed)
        |SELECT source, doc_id, log_w, skey, rnk FROM r WHERE rnk <= 5
        |ORDER BY source, rnk""".stripMargin,

    "q_length_outliers" ->
      """WITH meds AS (
        |  SELECT lang, quantile_cont(n_chars, 0.5) AS med FROM documents GROUP BY lang),
        |dev AS (
        |  SELECT d.doc_id, d.lang, d.n_chars, meds.med,
        |    abs(CAST(d.n_chars AS DOUBLE) - meds.med) AS adev
        |  FROM documents d JOIN meds ON d.lang = meds.lang),
        |mads AS (
        |  SELECT lang, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY lang)
        |SELECT doc_id, dev.lang, n_chars, round(med, 6) AS med,
        |  round(mads.mad, 6) AS mad,
        |  round(adev / greatest(mads.mad, 1e-9), 6) AS robust_z,
        |  adev <= 3.0 * mads.mad AS keep
        |FROM dev JOIN mads ON dev.lang = mads.lang
        |ORDER BY doc_id""".stripMargin,

    "q_topk_per_key" ->
      """WITH r AS (
        |  SELECT event_type, event_id, value,
        |    CAST(row_number() OVER (
        |      PARTITION BY event_type ORDER BY value DESC, event_id) AS BIGINT) AS rnk
        |  FROM events)
        |SELECT event_type, rnk, event_id, value
        |FROM r WHERE rnk <= 3
        |ORDER BY event_type, rnk""".stripMargin,

    "q_kmv_jaccard" ->
      """WITH ha AS (
        |  SELECT DISTINCT (CAST(user_id AS BIGINT) * 2654435761) % 2147483647 AS hv
        |  FROM events WHERE event_type = 'click'),
        |sa AS (SELECT hv FROM ha ORDER BY hv LIMIT 64),
        |hb AS (
        |  SELECT DISTINCT (CAST(user_id AS BIGINT) * 2654435761) % 2147483647 AS hv
        |  FROM events WHERE event_type = 'view'),
        |sb AS (SELECT hv FROM hb ORDER BY hv LIMIT 64),
        |su AS (
        |  SELECT hv FROM (
        |    SELECT DISTINCT hv FROM (
        |      SELECT hv FROM sa UNION ALL SELECT hv FROM sb) u) d
        |  ORDER BY hv LIMIT 64),
        |ua AS (SELECT CAST(count(*) AS BIGINT) AS nu, max(hv) AS hk FROM su),
        |kk AS (
        |  SELECT CAST(count(*) AS BIGINT) AS ki FROM su
        |  WHERE hv IN (SELECT hv FROM sa) AND hv IN (SELECT hv FROM sb)),
        |ea AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        |eb AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'),
        |ex AS (SELECT
        |  CAST((SELECT count(*) FROM ea WHERE user_id IN (SELECT user_id FROM eb)) AS BIGINT) AS exact_i,
        |  CAST((SELECT count(DISTINCT user_id) FROM (
        |    SELECT user_id FROM ea UNION ALL SELECT user_id FROM eb) uu) AS BIGINT) AS exact_u)
        |SELECT
        |  round(CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
        |             ELSE 63.0 * 2147483647.0 / CAST(hk AS DOUBLE) END, 4) AS union_est,
        |  ki AS k_intersect,
        |  round(CAST(ki AS DOUBLE) / CAST(nu AS DOUBLE), 6) AS jaccard_est,
        |  round(CAST(ki AS DOUBLE) / CAST(nu AS DOUBLE) *
        |        (CASE WHEN nu < 64 THEN CAST(nu AS DOUBLE)
        |              ELSE 63.0 * 2147483647.0 / CAST(hk AS DOUBLE) END), 4) AS intersect_est,
        |  round(CAST(exact_i AS DOUBLE) / CAST(exact_u AS DOUBLE), 6) AS exact_jaccard
        |FROM ua, kk, ex""".stripMargin,

    "q_exact_quantiles" ->
      """SELECT round(CAST(quantile_disc(value, 0.5) AS DOUBLE), 6) AS p50,
        |  round(CAST(quantile_disc(value, 0.9) AS DOUBLE), 6) AS p90,
        |  round(CAST(quantile_disc(value, 0.99) AS DOUBLE), 6) AS p99
        |FROM events""".stripMargin,

    "q_feature_corr" ->
      """WITH t AS (
        |  SELECT lang, CAST(n_chars AS BIGINT) AS x,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS y
        |  FROM documents),
        |a AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx, CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy
        |  FROM t GROUP BY lang)
        |SELECT lang, n,
        |  round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) *
        |         CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr_chars_words
        |FROM a ORDER BY lang""".stripMargin,

    "q_shard_plan" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 8 AS shard,
        |    substr(md5('order:' || CAST(doc_id AS VARCHAR)), 1, 16) AS order_key
        |  FROM documents)
        |SELECT doc_id, CAST(shard AS BIGINT) AS shard, order_key,
        |  CAST(row_number() OVER (
        |    PARTITION BY shard ORDER BY order_key, doc_id) AS BIGINT) AS position
        |FROM t ORDER BY doc_id""".stripMargin,

    "q_text_normalize" ->
      """WITH n AS (
        |  SELECT doc_id,
        |    trim(regexp_replace(
        |      translate(lower(text),
        |        'àáâãäåèéêëìíîïòóôõöùúûüçñý',
        |        'aaaaaaeeeeiiiiooooouuuucny'),
        |      '\s+', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, norm_text, md5(norm_text) AS norm_hash
        |FROM n ORDER BY doc_id""".stripMargin,

    "q_repeated_ngrams" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents),
        |sh_raw AS (
        |  SELECT doc_id, pos,
        |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win || ' ' ||
        |    lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win || ' ' ||
        |    lead(w, 5) OVER win || ' ' || lead(w, 6) OVER win || ' ' ||
        |    lead(w, 7) OVER win AS shingle
        |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT doc_id, pos, shingle FROM sh_raw WHERE shingle IS NOT NULL),
        |rep_sh AS (
        |  SELECT shingle FROM (
        |    SELECT shingle, count(DISTINCT doc_id) AS docs FROM sh GROUP BY 1)
        |  WHERE docs >= 2),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams FROM sh GROUP BY 1),
        |rep AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_repeated,
        |    CAST(min(pos) AS BIGINT) AS first_rep_pos
        |  FROM sh WHERE shingle IN (SELECT shingle FROM rep_sh) GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(t.n_ngrams, 0) AS BIGINT) AS n_ngrams,
        |  CAST(coalesce(r.n_repeated, 0) AS BIGINT) AS n_repeated,
        |  round(CAST(coalesce(r.n_repeated, 0) AS DOUBLE) /
        |    greatest(CAST(coalesce(t.n_ngrams, 0) AS DOUBLE), 1.0), 6) AS repeated_frac,
        |  CAST(coalesce(r.first_rep_pos, -1) AS BIGINT) AS first_rep_pos
        |FROM documents d
        |LEFT JOIN tot t ON d.doc_id = t.doc_id
        |LEFT JOIN rep r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Span removal: reconstructed text compared VERBATIM — both engines
    // drop tokens covered by any cross-doc repeated 8-gram (coverage =
    // start..start+7 over 1-based positions here, 0-based in Spark; the
    // arithmetic is engine-internal) and re-join survivors with spaces.
    "q_span_trim_text" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w,
        |    unnest(generate_series(1, len(string_split_regex(text, '\s+')))) AS pos
        |  FROM documents),
        |sh_raw AS (
        |  SELECT doc_id, pos,
        |    w || ' ' || lead(w, 1) OVER win || ' ' || lead(w, 2) OVER win || ' ' ||
        |    lead(w, 3) OVER win || ' ' || lead(w, 4) OVER win || ' ' ||
        |    lead(w, 5) OVER win || ' ' || lead(w, 6) OVER win || ' ' ||
        |    lead(w, 7) OVER win AS shingle
        |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
        |sh AS (SELECT doc_id, pos, shingle FROM sh_raw WHERE shingle IS NOT NULL),
        |rep_sh AS (
        |  SELECT shingle FROM (
        |    SELECT shingle, count(DISTINCT doc_id) AS docs FROM sh GROUP BY 1)
        |  WHERE docs >= 2),
        |cov0 AS (
        |  SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS pos
        |  FROM sh WHERE shingle IN (SELECT shingle FROM rep_sh)),
        |cov AS (SELECT DISTINCT doc_id, pos FROM cov0),
        |kept AS (
        |  SELECT t.doc_id, t.pos, t.w FROM toks t
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.pos = t.pos)),
        |reb AS (
        |  SELECT doc_id, CAST(count(*) AS BIGINT) AS kept_n,
        |    string_agg(w, ' ' ORDER BY pos) AS clean_text
        |  FROM kept GROUP BY 1),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM toks GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(t.n_tokens, 0) - coalesce(r.kept_n, 0) AS BIGINT) AS n_removed,
        |  coalesce(r.clean_text, '') AS clean_text
        |FROM documents d
        |LEFT JOIN tot t ON d.doc_id = t.doc_id
        |LEFT JOIN reb r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_mixture_weights" ->
      """WITH c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1e6, 0) AS BIGINT) AS sq_fp
        |  FROM documents GROUP BY source),
        |t AS (
        |  SELECT CAST(sum(n) AS BIGINT) AS n_total,
        |    CAST(sum(sq_fp) AS BIGINT) AS sum_sq_fp
        |  FROM c)
        |SELECT source, n,
        |  round(CAST(n AS DOUBLE) / CAST(n_total AS DOUBLE), 6) AS share,
        |  round(CAST(sq_fp AS DOUBLE) / CAST(sum_sq_fp AS DOUBLE), 6) AS target_share,
        |  round(least(1.0, (CAST(sq_fp AS DOUBLE) / CAST(sum_sq_fp AS DOUBLE)) * 200.0
        |    / CAST(n AS DOUBLE)), 6) AS rate
        |FROM c CROSS JOIN t ORDER BY source""".stripMargin,

    "q_quality_score" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split_regex(text, '\s+')) AS DOUBLE) AS wc,
        |    CAST(len(list_distinct(string_split_regex(text, '\s+'))) AS DOUBLE) AS uw,
        |    CAST(n_chars AS DOUBLE) AS nc
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, source,
        |    1.0 / (1.0 + exp(-(-3.0 + 0.55 * ln(1.0 + nc)
        |      + 2.0 * (uw / wc) - 0.35 * (nc / wc)))) AS raw
        |  FROM f),
        |fp AS (
        |  SELECT doc_id, source, round(raw, 6) AS score,
        |    CAST(round(raw * 1e6, 0) AS BIGINT) AS score_fp
        |  FROM s),
        |r AS (
        |  SELECT doc_id, source, score,
        |    percent_rank() OVER (PARTITION BY source ORDER BY score_fp, doc_id) AS pr
        |  FROM fp)
        |SELECT doc_id, source, score, round(pr, 6) AS pct_rank,
        |  CAST(CASE WHEN pr >= 0.2 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_lr_train" ->
      s"""${lrChainSql(20, "1.0")},
         |pf AS (SELECT f.*, ${lrFeatureNames.map(n => s"w_$n").mkString(", ")}, bias,
         |  1.0 / (1.0 + exp(-($lrZFinal))) AS p FROM f CROSS JOIN s20),
         |m AS (SELECT count(*) AS n,
         |  sum(CAST(floor(((-y) * ln(p) - (1.0 - y) * ln(1.0 - p)) * 1000000.0 + 0.5) AS BIGINT)) AS l_fp,
         |  sum(CAST(floor((CASE WHEN (floor(p * 1000000.0 + 0.5) / 1000000.0 >= 0.5) = (y >= 0.5) THEN 1.0 ELSE 0.0 END) * 1000000.0 + 0.5) AS BIGINT)) AS a_fp
         |  FROM pf)
         |SELECT CAST(20 AS BIGINT) AS step,
         |  ${lrFeatureNames.map(n => s"w_$n").mkString(", ")}, bias,
         |  ${lrFeatureNames.flatMap(n => Seq(s"mean_$n", s"std_$n")).mkString(", ")},
         |  floor(CAST(l_fp AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS log_loss,
         |  floor(CAST(a_fp AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS train_acc
         |FROM s20 CROSS JOIN m CROSS JOIN sc""".stripMargin,

    "q_lr_filter" ->
      s"""${lrChainSql(20, "1.0")},
         |scored AS (SELECT doc_id,
         |  floor(1.0 / (1.0 + exp(-($lrZFinal))) * 1000000.0 + 0.5) / 1000000.0 AS score
         |  FROM f CROSS JOIN s20)
         |SELECT doc_id, score FROM scored WHERE score >= 0.5
         |ORDER BY doc_id""".stripMargin,

    "q_lr_holdout" ->
      s"""${lrChainSql(20, "1.0", " WHERE doc_id % 5 <> 0")},
         |${lrFeatureSelectSql("ev", " WHERE doc_id % 5 = 0")},
         |evz AS (SELECT doc_id,
         |  ${lrFeatureNames.map(n =>
              s"floor(($n - mean_$n) / (CASE WHEN std_$n < 0.000001 THEN 1.0 ELSE std_$n END) * 1000000.0 + 0.5) / 1000000.0 AS $n")
                .mkString(",\n  ")},
         |  y FROM ev CROSS JOIN sc),
         |scored AS (SELECT y,
         |  CASE WHEN floor(1.0 / (1.0 + exp(-($lrZFinal))) * 1000000.0 + 0.5) / 1000000.0 >= 0.5
         |    THEN 1 ELSE 0 END AS pred
         |  FROM evz CROSS JOIN s20),
         |cm AS (SELECT CAST(count(*) AS BIGINT) AS n_eval,
         |  CAST(sum(CASE WHEN y = 1.0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN y = 0.0 AND pred = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN y = 0.0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,
         |  CAST(sum(CASE WHEN y = 1.0 AND pred = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn
         |  FROM scored)
         |SELECT n_eval, tp, fp, tn, fn,
         |  floor(CAST(tp + tn AS DOUBLE) / CAST(n_eval AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS eval_acc,
         |  floor(CAST(tp AS DOUBLE) / CAST(greatest(tp + fp, 1) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS eval_precision,
         |  floor(CAST(tp AS DOUBLE) / CAST(greatest(tp + fn, 1) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS eval_recall
         |FROM cm""".stripMargin,

    "q_lr_calibration" ->
      s"""${lrChainSql(20, "1.0")},
         |scored AS (SELECT y,
         |  floor(1.0 / (1.0 + exp(-($lrZFinal))) * 1000000.0 + 0.5) / 1000000.0 AS score
         |  FROM f CROSS JOIN s20)
         |SELECT least(CAST(floor(score * 10) AS BIGINT), 9) AS bucket,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  floor(CAST(sum(CAST(floor(score * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / (CAST(count(*) AS DOUBLE) * 1000000.0) * 1000000.0 + 0.5) / 1000000.0 AS mean_score,
         |  floor(CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS pos_rate
         |FROM scored GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_domain_reweight" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS w FROM documents),
        |freq AS (SELECT w, count(*) AS cnt FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS total FROM freq),
        |fixedt AS (
        |  SELECT doc_id,
        |    CAST(round(ln(CAST(cnt AS DOUBLE) / total) * 1000000, 0) AS BIGINT) AS lp
        |  FROM toks JOIN freq USING (w) CROSS JOIN tot),
        |perdoc AS (
        |  SELECT doc_id,
        |    round(CAST(sum(lp) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0, 6) AS logprob
        |  FROM fixedt GROUP BY 1),
        |loss AS (
        |  SELECT d.source AS key, (-logprob) AS loss
        |  FROM documents d JOIN perdoc USING (doc_id)),
        |bykey AS (
        |  SELECT key, count(*) AS n_docs,
        |    sum(CAST(floor(loss * 1000000.0 + 0.5) AS BIGINT)) AS sfp
        |  FROM loss GROUP BY 1),
        |meta AS (
        |  SELECT key, n_docs,
        |    floor(CAST(sfp AS DOUBLE) / CAST(n_docs AS DOUBLE) / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS avg_loss,
        |    floor(CAST(sum(sfp) OVER () AS DOUBLE)
        |      / CAST(sum(n_docs) OVER () AS DOUBLE) / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS gavg,
        |    floor(CAST(n_docs AS DOUBLE) / CAST(sum(n_docs) OVER () AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS old_share
        |  FROM bykey),
        |upd AS (
        |  SELECT key, n_docs, avg_loss,
        |    greatest(floor((avg_loss - gavg) * 1000000.0 + 0.5) / 1000000.0, 0.0) AS excess, old_share
        |  FROM meta),
        |ufp AS (
        |  SELECT *, CAST(floor(old_share * exp(50.0 * excess) * 1000000.0 + 0.5) AS BIGINT) AS u_fp
        |  FROM upd)
        |SELECT key, CAST(n_docs AS BIGINT) AS n_docs, avg_loss, excess, old_share,
        |  floor(CAST(u_fp AS DOUBLE) / CAST(sum(u_fp) OVER () AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS new_weight
        |FROM ufp ORDER BY key""".stripMargin,

    "q_snapshot_delta" ->
      """WITH olds AS (
        |  SELECT doc_id, md5(concat_ws(chr(1),
        |    CASE WHEN doc_id % 7 = 2 THEN upper(text) ELSE text END,
        |    lang, source)) AS old_hash
        |  FROM documents WHERE doc_id % 11 <> 3),
        |curs AS (
        |  SELECT doc_id, md5(concat_ws(chr(1), text, lang, source)) AS new_hash
        |  FROM documents WHERE doc_id % 13 <> 5)
        |SELECT coalesce(o.doc_id, c.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN c.doc_id IS NULL THEN 'removed'
        |       WHEN o.old_hash <> c.new_hash THEN 'changed'
        |       ELSE 'unchanged' END AS change,
        |  coalesce(o.old_hash, '') AS old_hash,
        |  coalesce(c.new_hash, '') AS new_hash
        |FROM olds o FULL JOIN curs c ON o.doc_id = c.doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_zorder_layout" ->
      """WITH g AS (
        |  SELECT doc_id, CAST(doc_id % 256 AS BIGINT) AS gx,
        |    CAST(n_chars % 256 AS BIGINT) AS gy
        |  FROM documents),
        |z AS (
        |  SELECT doc_id, gx, gy,
        |    CAST(list_sum(list_transform(generate_series(0, 7),
        |      i -> (((gx >> i) & 1) << (2 * i))
        |         + (((gy >> i) & 1) << (2 * i + 1)))) AS BIGINT) AS zval
        |  FROM g)
        |SELECT doc_id, gx, gy, zval, CAST(zval >> 10 AS BIGINT) AS bucket
        |FROM z ORDER BY doc_id""".stripMargin,

    "q_bloom_prune_join" ->
      """SELECT CAST(o_custkey % 10 AS BIGINT) AS cust_bucket,
        |  round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,6)) *
        |      (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))
        |      AS DECIMAL(18,6))) AS DOUBLE), 6) AS revenue,
        |  CAST(count(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY 1 ORDER BY cust_bucket""".stripMargin,

    "q_vocab_coverage" ->
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(text, '\s+')) AS tok FROM documents),
        |freq AS (
        |  SELECT tok, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY tok),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM freq),
        |top AS (
        |  SELECT tok, n FROM freq ORDER BY n DESC, tok LIMIT 50),
        |ranked AS (
        |  SELECT tok, n,
        |    CAST(row_number() OVER (ORDER BY n DESC, tok) AS BIGINT) AS rnk,
        |    CAST(sum(n) OVER (ORDER BY n DESC, tok
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
        |  FROM top)
        |SELECT rnk, tok, n,
        |  round(CAST(cum_n AS DOUBLE) / CAST(total AS DOUBLE), 6) AS cum_coverage
        |FROM ranked CROSS JOIN tot ORDER BY rnk""".stripMargin,

    "q_token_budget" ->
      """WITH d AS (
        |  SELECT source,
        |    CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(toks) AS BIGINT) AS n_tokens,
        |    CAST(round(sqrt(CAST(sum(toks) AS DOUBLE)) * 1e6, 0) AS BIGINT) AS sq_fp
        |  FROM d GROUP BY source),
        |t AS (
        |  SELECT CAST(sum(sq_fp) AS BIGINT) AS sum_sq_fp FROM c)
        |SELECT source, n_docs, n_tokens,
        |  round(CAST(sq_fp AS DOUBLE) / CAST(sum_sq_fp AS DOUBLE), 6) AS target_share,
        |  CAST(round(CAST(sq_fp AS DOUBLE) / CAST(sum_sq_fp AS DOUBLE) * 1000000, 0)
        |    AS BIGINT) AS alloc_tokens,
        |  CAST(round((CAST(sq_fp AS DOUBLE) / CAST(sum_sq_fp AS DOUBLE) * 1000000)
        |    / (CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)), 0) AS BIGINT) AS est_docs
        |FROM c CROSS JOIN t ORDER BY source""".stripMargin,

    "q_events_anomaly" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS bucket, event_type,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_buckets,
        |    CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
        |  FROM h GROUP BY 1),
        |z AS (
        |  SELECT event_type, bucket, n,
        |    (CAST(n AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n_buckets AS DOUBLE))
        |      / sqrt((CAST(s2 AS DOUBLE)
        |              - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n_buckets AS DOUBLE))
        |             / CAST(n_buckets - 1 AS DOUBLE)) AS zr
        |  FROM h JOIN s USING (event_type) WHERE n_buckets > 1)
        |SELECT event_type, bucket, n, round(zr, 6) AS zscore
        |FROM z WHERE zr > 2.0
        |ORDER BY event_type, bucket""".stripMargin,

    "q_events_rolling" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |d2 AS (
        |  SELECT *, date_diff('day', DATE '1970-01-01', day) AS day_num FROM daily)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS day, n,
        |  CAST(sum(n) OVER w AS BIGINT) AS n_window,
        |  CAST(count(n) OVER w AS BIGINT) AS days_present,
        |  round(CAST(sum(n) OVER w AS DOUBLE) / CAST(count(n) OVER w AS DOUBLE), 6)
        |    AS avg_window
        |FROM d2
        |WINDOW w AS (PARTITION BY event_type ORDER BY day_num
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,

    "q_seq_len_curve" ->
      """WITH d AS (
        |  SELECT len(string_split_regex(text, '\s+')) AS toks FROM documents),
        |b AS (
        |  SELECT toks - (toks % 8) AS bucket, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM b)
        |SELECT bucket, n_docs,
        |  CAST(sum(n_docs) OVER cum AS BIGINT) AS cum_docs,
        |  round(CAST(sum(n_docs) OVER cum AS DOUBLE) / CAST(total AS DOUBLE), 6)
        |    AS cum_share
        |FROM b CROSS JOIN t
        |WINDOW cum AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        |ORDER BY bucket""".stripMargin,

    "q_fuzzy_nn" ->
      """WITH a AS (SELECT p_partkey AS id_a, p_name AS name_a, p_brand FROM part),
        |b AS (SELECT p_partkey AS id_b, p_name AS name_b, p_brand FROM part)
        |SELECT id_a AS p_partkey, p_brand,
        |  CAST(min(levenshtein(name_a, name_b)) AS BIGINT) AS nn_dist
        |FROM a JOIN b USING (p_brand) WHERE id_a <> id_b
        |GROUP BY 1, 2 ORDER BY p_partkey""".stripMargin,

    "q_fuzzy_pairs" ->
      """WITH a AS (SELECT p_partkey AS id_a, p_name AS name_a, p_brand FROM part),
        |b AS (SELECT p_partkey AS id_b, p_name AS name_b, p_brand FROM part)
        |SELECT id_a, id_b,
        |  CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
        |FROM a JOIN b USING (p_brand)
        |WHERE id_a < id_b AND levenshtein(name_a, name_b) <= 2
        |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_cross_source" ->
      s"""WITH $shingleCtes,
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         |pairs AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS (
         |  SELECT id_a, id_b,
         |    round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6)
         |      AS jaccard
         |  FROM pairs
         |  JOIN sizes sa ON id_a = sa.doc_id
         |  JOIN sizes sb ON id_b = sb.doc_id
         |  WHERE round(CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE), 6)
         |    >= 0.8)
         |SELECT jp.id_a, jp.id_b, da.source AS source_a, db.source AS source_b, jaccard
         |FROM jp
         |JOIN documents da ON jp.id_a = da.doc_id
         |JOIN documents db ON jp.id_b = db.doc_id
         |WHERE da.source <> db.source
         |ORDER BY id_a, id_b""".stripMargin,

    "q_consolidate" -> withCtes(
      """SELECT row_number AS staging_id, 'u1' AS contacts_user_id,
        |       trim(email) AS contact_email, trim(first_name) AS contact_first_name,
        |       trim(last_name) AS contact_last_name, trim(company) AS contact_company
        |FROM classified
        |WHERE staging_status = 'READY'
        |  AND trim(email) <> '' AND trim(first_name) <> ''
        |  AND trim(last_name) <> '' AND trim(company) <> ''
        |ORDER BY staging_id""".stripMargin)
  )
}

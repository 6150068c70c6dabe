package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables._
import graft.functions.TextAnalysis
import graft.operators.{Compaction, Curation, Dedup, IncrementalAgg, Pca, Sampling, Similarity}

/** Training-data pipeline inventory: deduplication (exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine) and similarity search
  * (brute-force cosine top-k baseline + LSH-bucketed ANN scale path).
  *
  * Engine-portable hashing (md5) lets DuckDB verify MinHash/SimHash sketches
  * value-for-value; the LSH-ANN entries use engine-internal hashing and are
  * rows-only checked here, with recall asserted in SimilaritySpec.
  */
object PipelineQueries {

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix (64 → 16), entry
    * (i, j) from the md5 parity of "jl|i|j" — fixed at build time, identical
    * in the Spark plan and the oracle SQL (both carry it as literals; md5
    * here is plain JVM MessageDigest, the same function the engines expose).
    */
  private def jlSign(i: Int, j: Int): Double = {
    val hex = java.security.MessageDigest
      .getInstance("MD5")
      .digest(s"jl|$i|$j".getBytes("UTF-8"))
      .map("%02x".format(_))
      .mkString
    if (Character.digit(hex.charAt(0), 16) % 2 == 0) 1.0 else -1.0
  }
  private val JlDim = 16
  private val JlSigns: IndexedSeq[IndexedSeq[Double]] =
    (0 until JlDim).map(j => (0 until 64).map(i => jlSign(i, j)))

  /** The converged cluster-resolution frame, memoized per (session, sfDir)
    * and localCheckpointed: three driver-contract entries (`dedup_clusters`,
    * `dedup_cluster_sizes`, `dedup_keep_policy`) compose the SAME iterative
    * fixpoint, and re-running min-label propagation per entry triples its
    * cost in Verify/Bench. Driver-contract convenience only — production
    * callers invoke [[Dedup.dedupClusters]] and manage reuse themselves.
    */
  private val clustersCache =
    scala.collection.concurrent.TrieMap.empty[(org.apache.spark.sql.SparkSession, String), org.apache.spark.sql.DataFrame]
  private def resolvedClusters(s: org.apache.spark.sql.SparkSession, d: String) =
    clustersCache.getOrElseUpdate(
      (s, d),
      Dedup.dedupClusters(documents(s, d), "doc_id", "text").localCheckpoint()
    )

  /** Exact shingle-Jaccard ≥ 0.5 ground-truth pairs on the (lang, source)
    * domain, memoized per (session, sfDir): BOTH sketch-accuracy evals
    * (`dedup_simhash_eval`, `dedup_minhash_eval`) judge against this same
    * frame, and the blocked pair join is the expensive half of each. Same
    * driver-contract-only convenience as [[resolvedClusters]].
    */
  private val truthCache =
    scala.collection.concurrent.TrieMap.empty[(org.apache.spark.sql.SparkSession, String), org.apache.spark.sql.DataFrame]
  private def jaccardTruthPairs(s: org.apache.spark.sql.SparkSession, d: String) =
    truthCache.getOrElseUpdate(
      (s, d),
      Dedup
        .ngramJaccardPairs(documents(s, d), "doc_id", "text", Seq("lang", "source"))
        .filter(col("jaccard") >= 0.5)
        .select("id1", "id2")
        .localCheckpoint()
    )

  private val wordsSql = """string_split_regex(trim(text), '\s+')"""
  /** 3-word shingles, 1-based list indexing — twin of Dedup.shingles. */
  private val shinglesSql =
    s"""list_transform(range(1, greatest(len(words) - 2, 0) + 1),
       |  i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])"""
      .stripMargin.replaceAll("\\s+", " ")

  /** Twin of Dedup.minhashSignatures' md5 path: perm j = hex slice
    * [4j, 4j+4) of the single per-shingle digest, min over shingles.
    */
  private def minhashSql(j: Int) =
    s"list_aggregate(list_transform(sh, x -> substr(md5(x), ${j * 4 + 1}, 4)), 'min')"

  /** Embedding vector dimension in the testdata tables (all sf). Passed
    * explicitly so the LSH operators never probe the data for it.
    */
  private val EmbDim = 64

  /** Twin of Dedup.minhashCandidatePairs (md5 path): LSH band equi-join,
    * id1 < id2, distinct across bands. Shared by the pairs entry and the
    * cluster entry's edge CTE.
    */
  private val pairsSql: String = {
    val ms = (0 until 8).map(j => s"${minhashSql(j)} AS m$j").mkString(", ")
    s"""SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |FROM (SELECT doc_id, unnest([md5(m0 || '|' || m1), md5(m2 || '|' || m3),
       |              md5(m4 || '|' || m5), md5(m6 || '|' || m7)]) AS band
       |      FROM (SELECT doc_id, $ms
       |            FROM (SELECT doc_id, $shinglesSql AS sh
       |                  FROM (SELECT doc_id, $wordsSql AS words FROM documents) w) s) t) a
       |JOIN (SELECT doc_id, unnest([md5(m0 || '|' || m1), md5(m2 || '|' || m3),
       |              md5(m4 || '|' || m5), md5(m6 || '|' || m7)]) AS band
       |      FROM (SELECT doc_id, $ms
       |            FROM (SELECT doc_id, $shinglesSql AS sh
       |                  FROM (SELECT doc_id, $wordsSql AS words FROM documents) w) s) t) b
       |ON a.band = b.band AND a.doc_id < b.doc_id"""
      .stripMargin.replaceAll("\\s+", " ")
  }

  /** Twin of the band-key derivation over an arbitrary (doc_id, text)
    * relation — the [[pairsSql]] inner shape parameterized so the
    * incremental entry can band the corpus and a synthetic batch
    * separately.
    */
  private def bandsSqlOver(rel: String): String = {
    val ms = (0 until 8).map(j => s"${minhashSql(j)} AS m$j").mkString(", ")
    s"""SELECT doc_id, unnest([md5(m0 || '|' || m1), md5(m2 || '|' || m3),
       |              md5(m4 || '|' || m5), md5(m6 || '|' || m7)]) AS band
       |      FROM (SELECT doc_id, $ms
       |            FROM (SELECT doc_id, $shinglesSql AS sh
       |                  FROM (SELECT doc_id, $wordsSql AS words FROM $rel) w) s) t"""
      .stripMargin.replaceAll("\\s+", " ")
  }

  /** DuckDB CTEs regenerating the EXACT hyperplanes of
    * [[graft.operators.Similarity.hyperplanes]] (md5-derived, float-rounded,
    * widened back to double — bit-identical, validated) plus per-vector
    * bucket signatures; `rel` filters the vecs CTE (e.g. "vec_id < 5").
    */
  private def bucketsSql(bits: Int, seed: Int = 42): String =
    s"""planes AS (
       |  SELECT p, list_transform(range(0, $EmbDim), i ->
       |    CAST(CAST(list_sum(list_transform(range(1, 9), ii ->
       |      (strpos('0123456789abcdef',
       |              substr(md5('plane|$seed|' || CAST(p AS VARCHAR) || '|' || CAST(i AS VARCHAR)),
       |                     CAST(ii AS INT), 1)) - 1) * pow(16, 8 - ii)))
       |      / 4294967296.0 * 2 - 1 AS REAL) AS DOUBLE)) AS w
       |  FROM (SELECT unnest(range(0, $bits)) AS p)),
       |vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |         FROM embeddings),
       |buckets AS (
       |  SELECT vec_id, e,
       |    string_agg(CASE WHEN list_dot_product(e, w) >= 0 THEN '1' ELSE '0' END,
       |               '' ORDER BY p) AS bucket
       |  FROM vecs, planes GROUP BY vec_id, e)"""
      .stripMargin.replaceAll("\\s+", " ")

  /** AUTO-bits variant of [[bucketsSql]]: replays
    * [[graft.operators.Similarity.autoBits]] (smallest b in [4, 32] with
    * 2^b·256 ≥ n — integer-exact, no floating log) as the `nb` CTE and
    * generates exactly that prefix of the plane family, plus the
    * [[graft.operators.Similarity.AutoBucketDf]] hot-bucket cap (max(64,
    * 16·⌈n^¼⌉) per side) as the `okb` CTE of cap-surviving buckets. The
    * src/tgt split for the per-side dfs is `vec_id % 2` — the
    * `emb_margin_mine` entry's split.
    */
  private def bucketsAutoSql(seed: Int = 42): String =
    s"""n1 AS (SELECT count(*) AS n FROM embeddings),
       |nb AS (SELECT COALESCE((SELECT min(b) FROM (SELECT unnest(range(4, 33)) AS b) bb
       |         WHERE (CAST(1 AS BIGINT) << CAST(b AS INT)) * 256 >= (SELECT n FROM n1)), 32) AS b),
       |planes AS (
       |  SELECT p, list_transform(range(0, $EmbDim), i ->
       |    CAST(CAST(list_sum(list_transform(range(1, 9), ii ->
       |      (strpos('0123456789abcdef',
       |              substr(md5('plane|$seed|' || CAST(p AS VARCHAR) || '|' || CAST(i AS VARCHAR)),
       |                     CAST(ii AS INT), 1)) - 1) * pow(16, 8 - ii)))
       |      / 4294967296.0 * 2 - 1 AS REAL) AS DOUBLE)) AS w
       |  FROM (SELECT unnest(range(0, 32)) AS p) WHERE p < (SELECT b FROM nb)),
       |vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
       |         FROM embeddings),
       |allb AS (
       |  SELECT vec_id, e,
       |    string_agg(CASE WHEN list_dot_product(e, w) >= 0 THEN '1' ELSE '0' END,
       |               '' ORDER BY p) AS bucket
       |  FROM vecs, planes GROUP BY vec_id, e),
       |cp AS (SELECT GREATEST(64, 16 * CAST(ceil(pow((SELECT n FROM n1), 0.25)) AS BIGINT)) AS c),
       |okb AS (SELECT bucket FROM allb GROUP BY bucket
       |        HAVING sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) <= (SELECT c FROM cp)
       |           AND sum(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) <= (SELECT c FROM cp)),
       |buckets AS (SELECT a.vec_id, a.e, a.bucket FROM allb a JOIN okb USING (bucket))"""
      .stripMargin.replaceAll("\\s+", " ")

  /** Twin of [[Sampling.kCenterGreedy]] at k=8: the greedy max-min loop
    * UNROLLED as k CTE steps over the `sk` (doc_id, simhash) relation —
    * step i picks the unchosen doc with the largest min-distance (ORDER BY
    * d DESC, doc_id LIMIT 1) and m_{i+1} folds the new center in with
    * `least`. Exact string-level Hamming; bit-identical to the Spark
    * bit_count(xor) path.
    */
  /** DuckDB replay of [[graft.operators.Sampling.facilityLocationGreedy]]
    * over the `sk` (doc_id, simhash) CTE: the md5-spread candidate pool,
    * then `k` unrolled greedy steps — each a per-candidate marginal-gain
    * aggregate over the current best-coverage table, the (gain DESC, cid)
    * argmax, and the coverage update. Steps MATERIALIZED (each state feeds
    * two downstream CTEs; inlined, the reference count doubles per step).
    */
  private def facilitySql(k: Int, poolSize: Int): String = {
    def ham(a: String, b: String) =
      s"CAST(list_sum(list_transform(range(1, 65), i -> CASE WHEN " +
        s"substr($a, CAST(i AS INT), 1) <> substr($b, CAST(i AS INT), 1) " +
        s"THEN 1 ELSE 0 END)) AS BIGINT)"
    val steps = (1 to k).map { s =>
      val prev = if (s == 1) "pts0" else s"pts${s - 1}"
      val notIn =
        if (s == 1) ""
        else " WHERE c.cid NOT IN (" +
          (1 until s).map(j => s"SELECT cid FROM pick$j").mkString(" UNION ALL ") + ")"
      val ptsNext =
        if (s == k) "" // the last coverage update feeds nothing
        else s""",
           |pts$s AS MATERIALIZED (SELECT p.doc_id, p.simhash,
           |    greatest(p.best, 64 - ${ham("w.sig", "p.simhash")}) AS best
           |  FROM $prev p CROSS JOIN pick$s w)"""
      s""",
         |g$s AS (SELECT c.cid, c.sig,
         |    CAST(sum(greatest(64 - ${ham("c.sig", "p.simhash")} - p.best, 0))
         |      AS BIGINT) AS gain
         |  FROM pool c CROSS JOIN $prev p$notIn GROUP BY c.cid, c.sig),
         |pick$s AS MATERIALIZED (SELECT cid, sig, gain FROM g$s
         |  ORDER BY gain DESC, cid LIMIT 1)$ptsNext"""
    }.mkString
    val sel = (1 to k)
      .map(s => s"SELECT CAST(${s - 1} AS BIGINT) AS sel_order, cid AS doc_id, gain FROM pick$s")
      .mkString(" UNION ALL ")
    s"""pool AS MATERIALIZED (SELECT doc_id AS cid, simhash AS sig FROM (
       |    SELECT doc_id, simhash, md5(CAST(doc_id AS VARCHAR)) AS h FROM sk) z
       |  ORDER BY h, doc_id LIMIT $poolSize),
       |pts0 AS MATERIALIZED (SELECT doc_id, simhash, CAST(0 AS BIGINT) AS best FROM sk)$steps,
       |sel AS ($sel)
       |SELECT sel_order, doc_id, gain,
       |  CAST(sum(gain) OVER (ORDER BY sel_order ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |    AS objective
       |FROM sel"""
  }

  private def kCenterSql(k: Int): String = {
    def ham(x: String, c: String) =
      s"""CAST(len(list_filter(range(1, 65), i ->
         |  substr($x, CAST(i AS INT), 1) != substr($c, CAST(i AS INT), 1))) AS BIGINT)"""
        .stripMargin.replaceAll("\\s+", " ")
    val sb = new StringBuilder
    sb.append("s0 AS MATERIALIZED (SELECT doc_id, simhash FROM sk ORDER BY doc_id LIMIT 1), ")
    sb.append(
      s"m1 AS MATERIALIZED (SELECT t.doc_id, t.simhash, ${ham("t.simhash", "c.simhash")} AS d " +
        "FROM sk t CROSS JOIN s0 c)"
    )
    for (i <- 1 until k) {
      val excl = (0 until i).map(j => s"SELECT doc_id FROM s$j").mkString(" UNION ALL ")
      sb.append(
        s", s$i AS MATERIALIZED (SELECT m.doc_id, m.simhash, m.d FROM m$i m " +
          s"WHERE m.doc_id NOT IN ($excl) ORDER BY m.d DESC, m.doc_id LIMIT 1)"
      )
      if (i < k - 1)
        sb.append(
          s", m${i + 1} AS MATERIALIZED (SELECT m.doc_id, m.simhash, " +
            s"least(m.d, ${ham("m.simhash", "c.simhash")}) AS d " +
            s"FROM m$i m CROSS JOIN s$i c)"
        )
    }
    val sel = (s"SELECT CAST(0 AS BIGINT) AS sel_order, doc_id, CAST(-1 AS BIGINT) AS dist FROM s0" +:
      (1 until k).map(i =>
        s"SELECT CAST($i AS BIGINT) AS sel_order, doc_id, CAST(d AS BIGINT) AS dist FROM s$i"
      )).mkString(" UNION ALL ")
    s"${sb.toString} $sel"
  }

  // ---- NSW graph-ANN twin SQL (ann_graph_topk / ann_graph_sweep) ---------
  // [[Similarity.nswTopK]] defaults, mirrored here so the DuckDB twin
  // rebuilds the identical graph and walks the identical beam search.
  private val NswHops = 5
  private val NswBeam = 32
  private val NswDegree = 12
  private val NswTables = 4
  private val NswBits = 6

  /** How long `ann_graph_sweep` waits for its arms before it cancels them. */
  private val SweepTimeout = scala.concurrent.duration.Duration(20, "minutes")

  /** Run `arms` on one thread each and return their results in order. Each
    * arm's Spark jobs carry the arm's own job tag. The first failure, or
    * `bound` elapsing, stops the other arms (their threads are interrupted
    * and every job they submitted is cancelled) and rethrows, so no arm
    * keeps running after the call has failed. Waiting for the interrupted
    * threads to exit takes at most `bound` again.
    */
  private[graft] def overlapArms[T](
      spark: org.apache.spark.sql.SparkSession,
      bound: scala.concurrent.duration.FiniteDuration
  )(arms: Seq[() => T]): Seq[T] = {
    import java.util.concurrent.{ExecutionException, ExecutorCompletionService, Executors}
    import java.util.concurrent.{TimeUnit, TimeoutException}
    val sc = spark.sparkContext
    val run = java.util.UUID.randomUUID()
    val tags = arms.indices.map(i => s"graft-arm-$run-$i")
    val pool = Executors.newFixedThreadPool(arms.size)
    val done = new ExecutorCompletionService[T](pool)
    val futures = arms.zip(tags).map { case (arm, tag) =>
      done.submit { () =>
        sc.addJobTag(tag)
        sc.setInterruptOnCancel(true)
        arm()
      }
    }
    val deadline = bound.fromNow
    try {
      arms.foreach { _ =>
        val f = done.poll(deadline.timeLeft.toMillis, TimeUnit.MILLISECONDS)
        if (f == null) throw new TimeoutException(s"arms still running after $bound")
        try f.get() catch { case e: ExecutionException => throw e.getCause }
      }
      futures.map(_.get())
    } catch {
      case e: Throwable =>
        // interrupted arms stop at their next job wait; once every arm
        // thread has exited no new job can start, so one cancel per tag
        // then reaches every job an arm submitted
        pool.shutdownNow()
        pool.awaitTermination(bound.toMillis, TimeUnit.MILLISECONDS)
        tags.foreach(sc.cancelJobsWithTag)
        throw e
    } finally pool.shutdown()
  }

  /** Plane CTE `pl$t` for NSW hash table t (seed 42 + t·1009 — the
    * Similarity.nswTopK table-seed schedule).
    */
  private def nswPlaneSql(t: Int): String = {
    val s = 42 + t * 1009
    s"""pl$t AS MATERIALIZED (SELECT p, list_transform(range(0, $EmbDim), i ->
       |  CAST(CAST(list_sum(list_transform(range(1, 9), ii ->
       |    (strpos('0123456789abcdef',
       |            substr(md5('plane|$s|' || CAST(p AS VARCHAR) || '|' || CAST(i AS VARCHAR)),
       |                   CAST(ii AS INT), 1)) - 1) * pow(16, 8 - ii)))
       |    / 4294967296.0 * 2 - 1 AS REAL) AS DOUBLE)) AS w
       |FROM (SELECT unnest(range(0, $NswBits)) AS p))""".stripMargin
  }

  /** Shared WITH-prefix: double-cast vectors with norms plus the per-table
    * plane and bucket CTEs (`pl$t`, `bk$t`).
    */
  private def nswCoreSql: String = {
    val planes = (0 until NswTables).map(nswPlaneSql).mkString(", ")
    val bks = (0 until NswTables)
      .map(t =>
        s"""bk$t AS MATERIALIZED (SELECT nv.vec_id,
           |  string_agg(CASE WHEN list_dot_product(nv.e, pl$t.w) >= 0 THEN '1' ELSE '0' END,
           |             '' ORDER BY pl$t.p) AS bucket
           |FROM nv, pl$t GROUP BY nv.vec_id)""".stripMargin
      )
      .mkString(", ")
    s"""WITH nv AS MATERIALIZED (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
       |    sqrt(list_dot_product(list_transform(embedding, x -> CAST(x AS DOUBLE)),
       |                          list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS n
       |  FROM embeddings),
       |$planes, $bks""".stripMargin
  }

  /** One candidate-union + degree-prune stage: candidates from the bucket
    * tables with `srcPred` restricting the src side, pruned per src into
    * `$out` (src, dst) WITHOUT mirroring (callers mirror).
    */
  private def nswPruneStageSql(out: String, srcPred: String): String = {
    val candUnion = (0 until NswTables)
      .map(t =>
        s"SELECT a.vec_id AS src, b.vec_id AS dst FROM bk$t a " +
          s"JOIN bk$t b ON a.bucket = b.bucket AND a.vec_id != b.vec_id AND ($srcPred)"
      )
      .mkString(" UNION ALL ")
    s"""cand$out AS (SELECT DISTINCT src, dst FROM ($candUnion) u),
       |scored$out AS (SELECT c.src, c.dst,
       |    round(list_dot_product(s.e, t.e) / (s.n * t.n), 6) AS cos
       |  FROM cand$out c JOIN nv s ON c.src = s.vec_id JOIN nv t ON c.dst = t.vec_id),
       |$out AS (SELECT src, dst, cos FROM (
       |  SELECT src, dst, cos,
       |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rk
       |  FROM scored$out) p WHERE rk <= $NswDegree)""".stripMargin
  }

  /** Monolithic-build edge table: one prune stage over the full corpus. */
  private def nswFullEdgesSql: String =
    nswPruneStageSql("pruned", "1 = 1") +
      """, edges AS (SELECT src, dst FROM pruned
        |  UNION SELECT dst AS src, src AS dst FROM pruned)""".stripMargin

  /** Build-on-evens + frozen-plane append-of-odds edge table — the twin of
    * buildNswIndexVersioned(evens) then appendNswIndexVersioned(odds):
    * stage A prunes even→even candidates only; stage B prunes odd→any;
    * both mirror; existing (even) nodes are never re-pruned.
    */
  private def nswSplitEdgesSql: String =
    nswPruneStageSql("prA", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0") + ", " +
      nswPruneStageSql("prB", "a.vec_id % 2 = 1") +
      """, edges AS (SELECT src, dst FROM prA
        |  UNION SELECT dst, src FROM prA
        |  UNION SELECT src, dst FROM prB
        |  UNION SELECT dst, src FROM prB)""".stripMargin

  /** Entry point, query set (vec_id < 5) and seed frontier — needs nv and
    * a preceding `edges` CTE.
    */
  private def nswSearchTailSql: String =
    s"""ent AS (SELECT vec_id AS eid FROM nv ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
       |  LIMIT 1),
       |q AS (SELECT vec_id AS query_id, e AS qe, n AS qn FROM nv WHERE vec_id < 5),
       |f0 AS (SELECT q.query_id, c.vec_id AS node_id,
       |    round(list_dot_product(q.qe, c.e) / (q.qn * c.n), 6) AS cos
       |  FROM q CROSS JOIN ent JOIN nv c ON ent.eid = c.vec_id)""".stripMargin

  private def nswGraphSql: String =
    nswCoreSql + ", " + nswFullEdgesSql + ", " + nswSearchTailSql

  /** Unrolled beam-search hops: frontier CTEs `$prefix1..$prefix$hops`
    * (hop 1 reads `base`), each = top-`beam` of previous ∪ scored
    * out-edges of `edgesCte` — parameterized so the hierarchical twin can
    * run one ladder per level.
    */
  private def nswHopsSql(
      hops: Int,
      beam: Int,
      prefix: String = "f",
      edgesCte: String = "edges",
      base: String = "f0"
  ): String =
    (1 to hops)
      .map { h =>
        val prev = if (h == 1) base else s"$prefix${h - 1}"
        s"""e$prefix$h AS (SELECT DISTINCT f.query_id, e.dst AS node_id
           |  FROM $prev f JOIN $edgesCte e ON f.node_id = e.src),
           |s$prefix$h AS (SELECT query_id, node_id, cos FROM $prev
           |  UNION
           |  SELECT x.query_id, x.node_id,
           |    round(list_dot_product(q.qe, c.e) / (q.qn * c.n), 6) AS cos
           |  FROM e$prefix$h x JOIN nv c ON x.node_id = c.vec_id
           |  JOIN q ON x.query_id = q.query_id),
           |$prefix$h AS (SELECT query_id, node_id, cos FROM (
           |  SELECT query_id, node_id, cos,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, node_id) AS rk
           |  FROM s$prefix$h) z WHERE rk <= $beam)""".stripMargin
      }
      .mkString(", ")

  private def nswSearchSql(hops: Int, beam: Int): String =
    nswGraphSql + ", " + nswHopsSql(hops, beam)

  // hierarchical (HNSW-style) twin pieces: coarse level = md5-prefix 1/16
  // sample, its own pruned graph, a tiny-beam descent seeding the full walk
  private val NswUpperHops = 2
  private val NswUpperBeam = 4
  private val NswUpperPredA = "substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 1) = '0'"
  private val NswUpperPredB = "substr(md5(CAST(b.vec_id AS VARCHAR)), 1, 1) = '0'"

  /** The two-level descent: coarse entry + tiny-beam ladder over `edges1`,
    * best coarse node seeding the full ladder over `edges`. Needs nv plus
    * preceding `edges` and `edges1` CTEs.
    */
  private def nswHierSearchTailSql: String =
    s"""ent1 AS (SELECT vec_id AS eid FROM nv
       |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) = '0'
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1),
       |q AS (SELECT vec_id AS query_id, e AS qe, n AS qn FROM nv WHERE vec_id < 5),
       |g0 AS (SELECT q.query_id, c.vec_id AS node_id,
       |    round(list_dot_product(q.qe, c.e) / (q.qn * c.n), 6) AS cos
       |  FROM q CROSS JOIN ent1 JOIN nv c ON ent1.eid = c.vec_id)""".stripMargin + ", " +
      nswHopsSql(NswUpperHops, NswUpperBeam, prefix = "g", edgesCte = "edges1",
        base = "g0") + ", " +
      s"""best1 AS (SELECT query_id, node_id FROM (
         |  SELECT query_id, node_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, node_id) AS rk
         |  FROM g$NswUpperHops WHERE node_id != query_id) z WHERE rk = 1),
         |seeds0 AS (SELECT q.query_id,
         |    COALESCE(b.node_id, (SELECT eid FROM ent1)) AS node_id
         |  FROM q LEFT JOIN best1 b USING (query_id)),
         |h0 AS (SELECT s.query_id, s.node_id,
         |    round(list_dot_product(q.qe, c.e) / (q.qn * c.n), 6) AS cos
         |  FROM seeds0 s JOIN nv c ON s.node_id = c.vec_id
         |  JOIN q ON s.query_id = q.query_id)""".stripMargin + ", " +
      nswHopsSql(NswHops, NswBeam, prefix = "h", edgesCte = "edges", base = "h0")

  private def nswHierarchicalSql: String =
    nswCoreSql + ", " + nswFullEdgesSql + ", " +
      nswPruneStageSql("pr1", s"$NswUpperPredA AND $NswUpperPredB") + ", " +
      """edges1 AS (SELECT src, dst FROM pr1
        |  UNION SELECT dst AS src, src AS dst FROM pr1)""".stripMargin + ", " +
      nswHierSearchTailSql

  /** Two-level build-on-evens + frozen-plane append-of-odds edge tables —
    * the twin of buildNswIndexVersioned(evens, levels = 2) then
    * appendNswIndexVersioned(odds, levels = 2): each level gets its own A
    * (even→even) and B (odd→any-of-that-level) prune stages, both mirrored.
    */
  private def nswHierSplitEdgesSql: String =
    nswPruneStageSql("prA", "a.vec_id % 2 = 0 AND b.vec_id % 2 = 0") + ", " +
      nswPruneStageSql("prB", "a.vec_id % 2 = 1") + ", " +
      nswPruneStageSql(
        "pr1A",
        s"$NswUpperPredA AND $NswUpperPredB AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 0") + ", " +
      nswPruneStageSql(
        "pr1B",
        s"$NswUpperPredA AND $NswUpperPredB AND a.vec_id % 2 = 1") +
      """, edges AS (SELECT src, dst FROM prA
        |  UNION SELECT dst, src FROM prA
        |  UNION SELECT src, dst FROM prB
        |  UNION SELECT dst, src FROM prB),
        |edges1 AS (SELECT src, dst FROM pr1A
        |  UNION SELECT dst, src FROM pr1A
        |  UNION SELECT src, dst FROM pr1B
        |  UNION SELECT dst, src FROM pr1B)""".stripMargin

  val entries: Seq[QEntry] = Seq(
    // Exact dedup: content-hash group, keep lowest id.
    QEntry.sql(
      "dedup_exact",
      "SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS copies FROM documents GROUP BY 1"
    ) { (s, d) => Dedup.exactDedup(documents(s, d), "doc_id", "text") },

    // MinHash signatures + LSH band keys, verified value-for-value.
    QEntry.sql(
      "dedup_minhash_sig", {
        val ms = (0 until 8).map(j => s"${minhashSql(j)} AS m$j").mkString(", ")
        val bands = (0 until 4)
          .map(b => s"md5(m${2 * b} || '|' || m${2 * b + 1}) AS band$b")
          .mkString(", ")
        s"""SELECT doc_id, m0, m1, m2, m3, m4, m5, m6, m7, $bands
           |FROM (SELECT doc_id, $ms
           |      FROM (SELECT doc_id, $shinglesSql AS sh
           |            FROM (SELECT doc_id, $wordsSql AS words FROM documents) w) s) t"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) => Dedup.minhashSignatures(documents(s, d), "doc_id", "text") },

    // LSH candidate pairs (equi-join on band keys; empty on this corpus — the
    // mechanism is exercised on synthetic dups in DedupSpec).
    QEntry.sql("dedup_minhash_pairs", pairsSql) { (s, d) =>
      Dedup.minhashCandidatePairs(documents(s, d), "doc_id", "text")
    },

    // Graded similarity from signature agreement: Ĵ = matching perms /
    // numPerm on an explicit pair list (here an all-pairs evaluation sample
    // over the 30 lowest doc ids — the LSH candidate set is empty on this
    // natural corpus). Match count exact, estimate one division of two
    // exact values — bit-identical cross-engine.
    QEntry.sql(
      "dedup_minhash_est", {
        val ms = (0 until 8).map(j => s"${minhashSql(j)} AS m$j").mkString(", ")
        val matches =
          (0 until 8).map(j => s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH sigs AS (
           |  SELECT doc_id, $ms
           |  FROM (SELECT doc_id, $shinglesSql AS sh
           |        FROM (SELECT doc_id, $wordsSql AS words
           |              FROM documents WHERE doc_id < 30) w) s)
           |SELECT a.doc_id AS id1, b.doc_id AS id2,
           |  CAST($matches AS BIGINT) AS matching_perms,
           |  CAST($matches AS DOUBLE) / 8.0 AS jaccard_est
           |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val docs = documents(s, d).filter(col("doc_id") < 30)
      val ids = docs.select(col("doc_id"))
      val pairs = ids
        .select(col("doc_id").as("id1"))
        .crossJoin(ids.select(col("doc_id").as("id2")))
        .filter(col("id1") < col("id2"))
      Dedup.minhashJaccardEstimate(docs, "doc_id", "text", pairs)
    },

    // E398 1-bit MinHash estimate ([[Dedup.oneBitMinhashEstimate]], Li &
    // König 2010): Jaccard from the LOWEST BIT of each permutation's
    // min-hash — 1/32 the signature bytes, Ĵ = max(0, 2A−1) debiasing the
    // 0.5 agreement of unrelated pairs; the storage/accuracy trade web-scale
    // dedup prices out, judged here on the same all-pairs eval sample as
    // dedup_minhash_est so the two estimators compare row for row.
    QEntry.sql(
      "dedup_minhash_1bit", {
        val ms = (0 until 8).map(j => s"${minhashSql(j)} AS m$j").mkString(", ")
        val agree = (0 until 8)
          .map(j =>
            s"(CASE WHEN (strpos('0123456789abcdef', substr(a.m$j, 4, 1)) - 1) % 2" +
              s" = (strpos('0123456789abcdef', substr(b.m$j, 4, 1)) - 1) % 2" +
              " THEN 1 ELSE 0 END)")
          .mkString(" + ")
        s"""WITH sigs AS (
           |  SELECT doc_id, $ms
           |  FROM (SELECT doc_id, $shinglesSql AS sh
           |        FROM (SELECT doc_id, $wordsSql AS words
           |              FROM documents WHERE doc_id < 30) w) s)
           |SELECT a.doc_id AS id1, b.doc_id AS id2,
           |  CAST($agree AS BIGINT) AS agree_bits,
           |  round(greatest(0.0, 2.0 * (CAST($agree AS DOUBLE) / 8.0) - 1.0), 6)
           |    AS jaccard_1bit
           |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val docs = documents(s, d).filter(col("doc_id") < 30)
      val ids = docs.select(col("doc_id"))
      val pairs = ids
        .select(col("doc_id").as("id1"))
        .crossJoin(ids.select(col("doc_id").as("id2")))
        .filter(col("id1") < col("id2"))
      Dedup.oneBitMinhashEstimate(docs, "doc_id", "text", pairs)
    },

    // Cluster resolution: near-dup pairs → connected components → one
    // canonical cluster id (min doc_id of the component) per document.
    // Spark side is iterative min-label propagation (join + min-agg per round,
    // scalar-fingerprint convergence); the twin computes the same fixpoint as
    // a recursive transitive-closure CTE — tractable at oracle scale, and the
    // min-per-node of both formulations is the same component minimum.
    QEntry.sql(
      "dedup_clusters",
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (SELECT id1 AS s, id2 AS d FROM pairs
         |          UNION ALL SELECT id2, id1 FROM pairs),
         |cc(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.s, c.comp FROM edges e JOIN cc c ON e.d = c.id)
         |SELECT id AS doc_id, min(comp) AS cluster_id,
         |       count(*) OVER (PARTITION BY min(comp)) AS cluster_size
         |FROM cc GROUP BY id"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) => resolvedClusters(s, d) },

    // E435 golden-record survivorship ([[Dedup.goldenRecords]]): one fused
    // record per resolved near-dup cluster — richest-member text (length
    // DESC, id ASC; md5 witness), cluster-mode source and lang (count DESC,
    // value ASC). The twin extends the recursive-CTE cluster replay with
    // both survivorship windows, so a wrong tie-break in either rule
    // shifts the hash.
    QEntry.sql(
      "dedup_golden_record",
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (SELECT id1 AS s, id2 AS d FROM pairs
         |          UNION ALL SELECT id2, id1 FROM pairs),
         |cc(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.s, c.comp FROM edges e JOIN cc c ON e.d = c.id),
         |docs2 AS (SELECT id, min(comp) AS cluster_id FROM cc GROUP BY id),
         |m AS (SELECT docs2.cluster_id, d.doc_id, d.text, d.lang, d.source,
         |    d.n_chars
         |  FROM docs2 JOIN documents d ON d.doc_id = docs2.id),
         |canon AS (SELECT cluster_id, doc_id AS canon_id,
         |    CAST(n_chars AS BIGINT) AS canon_len, md5(text) AS canon_md5
         |  FROM (SELECT m.*, row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY n_chars DESC, doc_id) AS rn FROM m) t WHERE rn = 1),
         |src AS (SELECT cluster_id, source AS top_source
         |  FROM (SELECT cluster_id, source, row_number() OVER
         |      (PARTITION BY cluster_id ORDER BY count(*) DESC, source) AS rn
         |    FROM m GROUP BY cluster_id, source) t WHERE rn = 1),
         |lng AS (SELECT cluster_id, lang AS top_lang
         |  FROM (SELECT cluster_id, lang, row_number() OVER
         |      (PARTITION BY cluster_id ORDER BY count(*) DESC, lang) AS rn
         |    FROM m GROUP BY cluster_id, lang) t WHERE rn = 1),
         |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
         |  FROM m GROUP BY cluster_id)
         |SELECT sz.cluster_id, sz.n_members, canon.canon_id, canon.canon_len,
         |  canon.canon_md5, src.top_source, lng.top_lang
         |FROM sz JOIN canon ON sz.cluster_id = canon.cluster_id
         |JOIN src ON sz.cluster_id = src.cluster_id
         |JOIN lng ON sz.cluster_id = lng.cluster_id"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Dedup.goldenRecords(
        documents(s, d), "doc_id", "text", "n_chars", Seq("source", "lang"),
        resolvedClusters(s, d).select(col("doc_id"), col("cluster_id")))
    },

    // E269 post-dedup mixture report: per source, document share BEFORE
    // dedup vs AFTER a min-id keep policy over the resolved near-dup
    // clusters — the rebalancing check a mixture-weighted sampler must run
    // after any dedup pass (duplicates concentrate in scraped sources, so
    // dedup silently shifts the mix the weights were tuned against).
    // Composes the SAME memoized cluster fixpoint as dedup_clusters; all
    // shares exact integer ppm.
    QEntry.sql(
      "dedup_post_mix",
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (SELECT id1 AS s, id2 AS d FROM pairs
         |          UNION ALL SELECT id2, id1 FROM pairs),
         |cc(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.s, c.comp FROM edges e JOIN cc c ON e.d = c.id),
         |docs2 AS (SELECT id, min(comp) AS cluster_id FROM cc GROUP BY id),
         |keep AS (SELECT cluster_id, min(id) AS kid FROM docs2 GROUP BY cluster_id),
         |j AS (SELECT d.source,
         |        CASE WHEN k.kid = docs2.id THEN 1 ELSE 0 END AS kept
         |      FROM docs2
         |      JOIN keep k ON docs2.cluster_id = k.cluster_id
         |      JOIN documents d ON d.doc_id = docs2.id)
         |SELECT source,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(kept) AS BIGINT) AS n_kept,
         |  CAST(count(*) * 1000000 // (SELECT count(*) FROM documents) AS BIGINT)
         |    AS share_before_ppm,
         |  CAST(sum(kept) * 1000000 // (SELECT count(*) FROM keep) AS BIGINT)
         |    AS share_after_ppm
         |FROM j GROUP BY source""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val docs = documents(s, d)
      val clusters = resolvedClusters(s, d) // (doc_id, cluster_id, cluster_size)
      val keepers = clusters
        .groupBy(col("cluster_id"))
        .agg(min(col("doc_id")).as("kid"))
      val nKeep = keepers.count()
      val nDocs = docs.count()
      clusters
        .join(keepers, "cluster_id")
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
        .select(
          col("source"),
          when(col("doc_id") === col("kid"), 1L).otherwise(0L).as("kept")
        )
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("kept").cast("long").as("n_kept"))
        .select(
          col("source"),
          col("n_docs"),
          col("n_kept"),
          expr(s"n_docs * 1000000L div ${nDocs}L").cast("long").as("share_before_ppm"),
          expr(s"n_kept * 1000000L div ${nKeep}L").cast("long").as("share_after_ppm")
        )
    },

    // E425 END-TO-END data-selection pipeline — the shape a real curation
    // run uses, composed WITHOUT a driver round-trip between stages:
    // (1) split-conformal quality gate per lang at 9/10 coverage (E418) on
    // the token-count score, calibration = doc_id % 10 < 3; (2) near-dup
    // dedup over the resolved cluster fixpoint — the min KEPT id of each
    // cluster survives; (3) DoReMi reweighting (E417, 2 rounds) over the
    // CURATED corpus yields per-lang mixture weights; (4) the mixture
    // sampler keeps a doc iff its md5 hash position < min(1, 2·w_lang) —
    // the E62 sampler driven by LEARNED weights through a broadcast join
    // instead of a static map. Every stage hands the next a DataFrame;
    // only DoReMi's internal rounds checkpoint. The twin replays the gate
    // (exact-rank threshold), the recursive-CTE cluster fixpoint, the
    // integer-quantized DoReMi ledger and the hash-position sampler, so a
    // pipeline that broke ANY stage's contract — or the handoffs between
    // them — hash-mismatches.
    QEntry.sql(
      "pipe_mixture_curation", {
        val hashpos =
          """CAST(list_sum(list_transform(range(1, 9), i ->
            |  (strpos('0123456789abcdef',
            |          substr(md5(CAST(ded.doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
            |  * pow(16, 8 - i))) AS DOUBLE) / 4294967296.0""".stripMargin
        val doremiRounds = (1 to 2).map { k =>
          val prev = if (k == 1) "w0" else s"w${k - 1}"
          s""",
             |dm$k AS (SELECT CAST(sum(CAST(round(w * h_mean * 1e9, 0) AS BIGINT))
             |    AS BIGINT) AS mq FROM $prev),
             |ds$k AS MATERIALIZED (SELECT dm, h_mean,
             |    CAST(round(w * exp(0.5 * (h_mean - CAST(mq AS DOUBLE) / 1e9)) * 1e9, 0)
             |      AS BIGINT) AS wq
             |  FROM $prev CROSS JOIN dm$k),
             |dd$k AS (SELECT CAST(sum(wq) AS BIGINT) AS dq FROM ds$k),
             |w$k AS MATERIALIZED (SELECT dm, h_mean,
             |    round(CAST(wq AS DOUBLE) / CAST(dq AS DOUBLE), 6) AS w
             |  FROM ds$k CROSS JOIN dd$k)"""
        }.mkString
        s"""WITH RECURSIVE pairs AS ($pairsSql),
           |edges AS (SELECT id1 AS s, id2 AS d FROM pairs
           |          UNION ALL SELECT id2, id1 FROM pairs),
           |cc(id, comp) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.s, c.comp FROM edges e JOIN cc c ON e.d = c.id),
           |docs2 AS (SELECT id, min(comp) AS cluster_id FROM cc GROUP BY id),
           |sc AS (SELECT doc_id, lang, text,
           |    CAST(len($wordsSql) AS BIGINT) AS score,
           |    doc_id % 10 < 3 AS cal FROM documents),
           |cs AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_cal,
           |    CAST(((count(*) + 1) * 9 + 9) // 10 AS BIGINT) AS k
           |  FROM sc WHERE cal GROUP BY lang),
           |rk AS (SELECT lang, score,
           |    row_number() OVER (PARTITION BY lang ORDER BY score) AS rn
           |  FROM sc WHERE cal),
           |thr AS (SELECT cs.lang, r.score AS threshold
           |  FROM cs LEFT JOIN rk r ON r.lang = cs.lang AND r.rn = cs.k),
           |kept AS (SELECT sc.doc_id, sc.lang, sc.text FROM sc
           |  JOIN thr ON sc.lang = thr.lang
           |  WHERE NOT sc.cal AND (thr.threshold IS NULL OR sc.score <= thr.threshold)),
           |kd AS (SELECT kept.doc_id, kept.lang, kept.text, d2.cluster_id
           |  FROM kept JOIN docs2 d2 ON d2.id = kept.doc_id),
           |reps AS (SELECT cluster_id, min(doc_id) AS kid FROM kd GROUP BY cluster_id),
           |ded AS MATERIALIZED (SELECT kd.doc_id, kd.lang, kd.text FROM kd
           |  JOIN reps ON kd.cluster_id = reps.cluster_id AND kd.doc_id = reps.kid),
           |tok AS MATERIALIZED (SELECT lang AS dm, t, CAST(count(*) AS BIGINT) AS c
           |  FROM (SELECT lang, unnest($wordsSql) AS t
           |        FROM (SELECT lang, text FROM ded) x0) x
           |  WHERE t <> '' GROUP BY lang, t),
           |ct AS (SELECT t, CAST(sum(c) AS BIGINT) AS ct FROM tok GROUP BY t),
           |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM tok),
           |h AS MATERIALIZED (SELECT dm,
           |    round(CAST(CAST(sum(c * CAST(round(ln(CAST(n AS DOUBLE)
           |      / CAST(ct AS DOUBLE)), 9) AS DECIMAL(18,9))) AS DECIMAL(28,9))
           |      AS DOUBLE) / sum(c), 6) AS h_mean
           |  FROM tok JOIN ct USING (t) CROSS JOIN n GROUP BY dm),
           |nd AS (SELECT CAST(count(*) AS BIGINT) AS ndom FROM h),
           |w0 AS (SELECT dm, h_mean, round(1.0 / ndom, 6) AS w
           |  FROM h CROSS JOIN nd)$doremiRounds
           |SELECT ded.doc_id, ded.lang, w2.w AS w_2
           |FROM ded JOIN w2 ON ded.lang = w2.dm
           |WHERE $hashpos < least(1.0, w2.w * 2)"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val docs = documents(s, d)
      val scored = docs.select(
        col("doc_id"), col("lang"), col("text"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("score"),
        (col("doc_id") % 10 < 3).as("cal"))
      // stage 1: split-conformal gate per lang (9/10 coverage)
      val gate = Curation.conformalGate(scored, "lang", "score", col("cal"))
        .select(col("lang"), col("threshold"))
      val kept = scored
        .filter(!col("cal"))
        .join(broadcast(gate), Seq("lang"))
        .filter(col("threshold").isNull || col("score") <= col("threshold"))
      // stage 2: near-dup dedup — min KEPT id per resolved cluster survives
      val kd = kept.join(
        resolvedClusters(s, d).select(col("doc_id"), col("cluster_id")), "doc_id")
      val reps = kd.groupBy("cluster_id").agg(min("doc_id").as("kid"))
      val ded = kd.join(reps, "cluster_id")
        .filter(col("doc_id") === col("kid"))
        .select("doc_id", "lang", "text")
      // stage 3: DoReMi weights over the CURATED corpus (2 rounds)
      val w = Curation.doremiWeights(ded, "lang", "text", eta = 0.5, rounds = 2)
        .select(col("lang"), col("w_2"))
      // stage 4: mixture sample with the LEARNED weights via broadcast join
      ded.join(broadcast(w), Seq("lang"))
        .filter(Sampling.hashPosition(col("doc_id")) < least(lit(1.0), col("w_2") * 2))
        .select(col("doc_id"), col("lang"), col("w_2"))
    },

    // Cluster-size distribution — the dedup observability rollup (how much
    // mass sits in near-dup clusters vs singletons) read before choosing a
    // keep policy. Composes the cluster resolution with a two-level count.
    QEntry.sql(
      "dedup_cluster_sizes",
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (SELECT id1 AS s, id2 AS d FROM pairs
         |          UNION ALL SELECT id2, id1 FROM pairs),
         |cc(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.s, c.comp FROM edges e JOIN cc c ON e.d = c.id),
         |docs2 AS (SELECT id, min(comp) AS cluster_id FROM cc GROUP BY id),
         |sizes AS (SELECT cluster_id, count(*) AS cluster_size
         |          FROM docs2 GROUP BY cluster_id)
         |SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
         |       count(*) AS n_clusters,
         |       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
         |FROM sizes GROUP BY cluster_size""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      resolvedClusters(s, d)
        .select(col("cluster_id"), col("cluster_size"))
        .distinct()
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(
          col("cluster_size"),
          col("n_clusters"),
          (col("cluster_size") * col("n_clusters")).as("n_docs")
        )
    },

    // Keep policy: the final dedup stage — per cluster keep the HIGHEST
    // QUALITY member (not the lowest id), tie-broken by id. Composes cluster
    // resolution with the shared quality score and a per-cluster argmax
    // window; the policy a production pipeline actually ships.
    QEntry.sql(
      "dedup_keep_policy", {
        val qualSql = TextQueries.qualityExprSql
        s"""WITH RECURSIVE pairs AS ($pairsSql),
           |edges AS (SELECT id1 AS s, id2 AS d FROM pairs
           |          UNION ALL SELECT id2, id1 FROM pairs),
           |cc(id, comp) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.s, c.comp FROM edges e JOIN cc c ON e.d = c.id),
           |docs2 AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM cc GROUP BY id),
           |q AS (SELECT doc_id, $qualSql AS quality FROM documents)
           |SELECT cluster_id, doc_id AS keep_doc_id, quality AS keep_quality,
           |  CAST(n_members AS BIGINT) AS n_members
           |FROM (SELECT d.cluster_id, d.doc_id, q.quality,
           |    count(*) OVER (PARTITION BY d.cluster_id) AS n_members,
           |    row_number() OVER (PARTITION BY d.cluster_id
           |      ORDER BY q.quality DESC, d.doc_id) AS rn
           |  FROM docs2 d JOIN q ON d.doc_id = q.doc_id) t
           |WHERE rn = 1""".stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = documents(s, d)
      val cl = resolvedClusters(s, d).select("doc_id", "cluster_id")
      val q = docs.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy(col("cluster_id"))
      val rnW = Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("quality").desc, col("doc_id"))
      cl.join(q, "doc_id")
        .withColumn("n_members", count(lit(1)).over(w))
        .withColumn("_rn", row_number().over(rnW))
        .filter(col("_rn") === 1)
        .select(
          col("cluster_id"),
          col("doc_id").as("keep_doc_id"),
          col("quality").as("keep_quality"),
          col("n_members")
        )
    },

    // E270 end-to-end disposition audit — the per-document verdict of the
    // composed curation pipeline (dedup first, then quality gate): 'dup'
    // when another cluster member won the quality keep-policy,
    // 'low_quality' when the doc survived dedup but scores under the gate,
    // 'kept' otherwise. The audit row per INPUT doc — not just the
    // survivors — is what makes a pipeline run explainable ("why did doc X
    // disappear?") and is the lineage a compliance review asks for.
    // Composes the memoized cluster fixpoint + the shared quality score;
    // the twin chains the two already-oracled stage replays and a CASE.
    QEntry.sql(
      "pipe_disposition", {
        val qualSql = TextQueries.qualityExprSql
        s"""WITH RECURSIVE pairs AS ($pairsSql),
           |edges AS (SELECT id1 AS s, id2 AS d FROM pairs
           |          UNION ALL SELECT id2, id1 FROM pairs),
           |cc(id, comp) AS (
           |  SELECT doc_id, doc_id FROM documents
           |  UNION
           |  SELECT e.s, c.comp FROM edges e JOIN cc c ON e.d = c.id),
           |docs2 AS (SELECT id AS doc_id, min(comp) AS cluster_id FROM cc GROUP BY id),
           |q AS (SELECT doc_id, $qualSql AS quality FROM documents),
           |ranked AS (SELECT d.doc_id, d.cluster_id, q.quality,
           |    row_number() OVER (PARTITION BY d.cluster_id
           |      ORDER BY q.quality DESC, d.doc_id) AS rn
           |  FROM docs2 d JOIN q ON d.doc_id = q.doc_id)
           |SELECT doc_id, quality,
           |  CASE WHEN rn > 1 THEN 'dup'
           |       WHEN quality < 0.6 THEN 'low_quality'
           |       ELSE 'kept' END AS disposition
           |FROM ranked""".stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = documents(s, d)
      val cl = resolvedClusters(s, d).select("doc_id", "cluster_id")
      val q = docs.select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
      val rnW = Window
        .partitionBy(col("cluster_id"))
        .orderBy(col("quality").desc, col("doc_id"))
      cl.join(q, "doc_id")
        .withColumn("_rn", row_number().over(rnW))
        .select(
          col("doc_id"),
          col("quality"),
          when(col("_rn") > 1, "dup")
            .when(col("quality") < 0.6, "low_quality")
            .otherwise("kept")
            .as("disposition")
        )
    },

    // Precision stage over the LSH candidates: exact normalized Levenshtein
    // on candidate pairs only (both engines implement the classic DP edit
    // distance; the normalizer is one exact division — no rounding needed).
    QEntry.sql(
      "dedup_fuzzy_pairs",
      s"""SELECT id1, id2, edit_dist, norm_dist FROM (
         |  SELECT p.id1, p.id2,
         |    CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
         |    CAST(levenshtein(a.text, b.text) AS DOUBLE) /
         |      greatest(length(a.text), length(b.text), 1) AS norm_dist
         |  FROM ($pairsSql) p
         |  JOIN documents a ON p.id1 = a.doc_id
         |  JOIN documents b ON p.id2 = b.doc_id) t
         |WHERE norm_dist <= 0.4""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) => Dedup.fuzzyPairs(documents(s, d), "doc_id", "text", maxNorm = 0.4) },

    // E364 canonical-first fuzzy verification ([[Dedup.fuzzyCanonicalVerify]]):
    // the linear-in-members alternative to dedup_fuzzy_pairs' pairwise
    // Levenshtein — candidate clusters resolve first (same LSH band join +
    // min-label fixpoint as dedup_clusters), then each NON-canonical member
    // verifies against its component-min canonical only: d−1 edit distances
    // per d-clone cluster instead of C(d,2). Planted verbatim clones
    // (doc_id % 10 = 7 re-sent at +1000000) give every clone pair an
    // edit_dist-0 verification row; the twin replays the same closure and
    // the same member→canonical joins over the identical union.
    QEntry.sql(
      "dedup_fuzzy_canonical", {
        val bandsU = bandsSqlOver("u")
        s"""WITH RECURSIVE u AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text
           |  FROM documents WHERE doc_id % 10 = 7),
           |bands AS ($bandsU),
           |pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id),
           |edges AS (SELECT id1 AS s, id2 AS d FROM pairs
           |          UNION ALL SELECT id2, id1 FROM pairs),
           |cc(id, comp) AS (
           |  SELECT doc_id, doc_id FROM u
           |  UNION
           |  SELECT e.s, c.comp FROM edges e JOIN cc c ON e.d = c.id),
           |lab AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id)
           |SELECT doc_id, canonical_id, edit_dist, norm_dist FROM (
           |  SELECT m.id AS doc_id, m.comp AS canonical_id,
           |    CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist,
           |    CAST(levenshtein(a.text, b.text) AS DOUBLE) /
           |      greatest(length(a.text), length(b.text), 1) AS norm_dist
           |  FROM lab m
           |  JOIN u a ON m.id = a.doc_id
           |  JOIN u b ON m.comp = b.doc_id
           |  WHERE m.id != m.comp) t
           |WHERE norm_dist <= 0.4""".stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val docs = documents(s, d)
      val u = docs
        .select(col("doc_id"), col("text"))
        .unionByName(
          docs
            .filter(col("doc_id") % 10 === 7)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.fuzzyCanonicalVerify(u, "doc_id", "text", maxNorm = 0.4)
    },

    // SimHash-64 sketch (per-bit token majority over md5 nibbles).
    QEntry.sql(
      "dedup_simhash",
      s"""SELECT doc_id, array_to_string(list_transform(range(0, 64), j ->
         |  CASE WHEN 2 * list_sum(list_transform(words, t ->
         |         ((strpos('0123456789abcdef', substr(md5(t), CAST(j // 4 AS INT) + 1, 1)) - 1)
         |          // CAST(pow(2, 3 - (j % 4)) AS BIGINT)) % 2))
         |       >= len(words) THEN '1' ELSE '0' END), '') AS simhash
         |FROM (SELECT doc_id, $wordsSql AS words FROM documents) w"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) => Dedup.simhash(documents(s, d), "doc_id", "text") },

    // SimHash pairing: 16-bit-band blocking (pigeonhole-exact recall at
    // hamming ≤ 3) + exact Hamming verification on candidates only. A loose
    // maxHamming=8 keeps the entry's result set non-trivial at sf0.01.
    QEntry.sql(
      "dedup_simhash_pairs",
      s"""WITH sk AS (SELECT doc_id, array_to_string(list_transform(range(0, 64), j ->
         |  CASE WHEN 2 * list_sum(list_transform(words, t ->
         |         ((strpos('0123456789abcdef', substr(md5(t), CAST(j // 4 AS INT) + 1, 1)) - 1)
         |          // CAST(pow(2, 3 - (j % 4)) AS BIGINT)) % 2))
         |       >= len(words) THEN '1' ELSE '0' END), '') AS simhash
         |  FROM (SELECT doc_id, $wordsSql AS words FROM documents) w),
         |banded AS (SELECT doc_id, simhash,
         |    b, substr(simhash, CAST(b * 16 + 1 AS INT), 16) AS bv
         |  FROM sk, (SELECT unnest(range(0, 4)) AS b) bs),
         |pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         |    a.simhash AS s1, b.simhash AS s2
         |  FROM banded a JOIN banded b
         |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id)
         |SELECT id1, id2, hamming FROM (
         |  SELECT id1, id2,
         |    CAST(len(list_filter(range(1, 65), i ->
         |      substr(s1, CAST(i AS INT), 1) != substr(s2, CAST(i AS INT), 1))) AS BIGINT)
         |      AS hamming
         |  FROM pairs) t
         |WHERE hamming <= 8""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) => Dedup.simhashPairs(documents(s, d), "doc_id", "text", maxHamming = 8) },

    // E331 clustering agreement ([[Dedup.clusterAgreement]]): exact
    // Rand / Adjusted-Rand between the corpus's TWO near-dup clusterings —
    // MinHash-LSH components vs SimHash-Hamming components — the
    // pair-counting eval that says whether swapping sketches would regroup
    // the corpus. Every pair count is derived from the label-pair
    // contingency (one partial-agg shuffle), never from doc pairs; RI is
    // exact ppm, ARI one final rounded ratio. The twin recomputes both
    // fixpoints as recursive transitive closures and replays the identical
    // integer algebra.
    QEntry.sql(
      "dedup_cluster_ari",
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |edges AS (SELECT id1 AS s, id2 AS d FROM pairs
         |          UNION ALL SELECT id2, id1 FROM pairs),
         |cc(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.s, c.comp FROM edges e JOIN cc c ON e.d = c.id),
         |lla AS (SELECT id AS doc_id, min(comp) AS la FROM cc GROUP BY id),
         |sk AS (SELECT doc_id, array_to_string(list_transform(range(0, 64), j ->
         |  CASE WHEN 2 * list_sum(list_transform(words, t ->
         |         ((strpos('0123456789abcdef', substr(md5(t), CAST(j // 4 AS INT) + 1, 1)) - 1)
         |          // CAST(pow(2, 3 - (j % 4)) AS BIGINT)) % 2))
         |       >= len(words) THEN '1' ELSE '0' END), '') AS simhash
         |  FROM (SELECT doc_id, $wordsSql AS words FROM documents) w),
         |banded AS (SELECT doc_id, simhash,
         |    b, substr(simhash, CAST(b * 16 + 1 AS INT), 16) AS bv
         |  FROM sk, (SELECT unnest(range(0, 4)) AS b) bs),
         |sp AS (SELECT id1, id2 FROM (
         |  SELECT id1, id2,
         |    CAST(len(list_filter(range(1, 65), i ->
         |      substr(s1, CAST(i AS INT), 1) != substr(s2, CAST(i AS INT), 1))) AS BIGINT)
         |      AS hamming
         |  FROM (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         |          a.simhash AS s1, b.simhash AS s2
         |        FROM banded a JOIN banded b
         |          ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id) p) t
         |  WHERE hamming <= 8),
         |sedges AS (SELECT id1 AS s, id2 AS d FROM sp
         |           UNION ALL SELECT id2, id1 FROM sp),
         |scc(id, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.s, c.comp FROM sedges e JOIN scc c ON e.d = c.id),
         |llb AS (SELECT id AS doc_id, min(comp) AS lb FROM scc GROUP BY id),
         |cont AS (SELECT la, lb, CAST(count(*) AS BIGINT) AS n
         |  FROM lla JOIN llb USING (doc_id) GROUP BY la, lb),
         |s1 AS (SELECT CAST(sum(CAST(n AS HUGEINT) * (n - 1) // 2) AS BIGINT) AS sum_ij,
         |    CAST(sum(n) AS BIGINT) AS n_docs FROM cont),
         |s2 AS (SELECT CAST(sum(CAST(m AS HUGEINT) * (m - 1) // 2) AS BIGINT) AS sum_a
         |  FROM (SELECT CAST(sum(n) AS BIGINT) AS m FROM cont GROUP BY la)),
         |s3 AS (SELECT CAST(sum(CAST(m AS HUGEINT) * (m - 1) // 2) AS BIGINT) AS sum_b
         |  FROM (SELECT CAST(sum(n) AS BIGINT) AS m FROM cont GROUP BY lb)),
         |f AS (SELECT n_docs,
         |    CAST(CAST(n_docs AS HUGEINT) * (n_docs - 1) // 2 AS BIGINT) AS n_pairs,
         |    sum_ij, sum_a, sum_b FROM s1, s2, s3)
         |SELECT n_docs, n_pairs, sum_a, sum_b, sum_ij,
         |  CAST((CAST(n_pairs AS HUGEINT) - sum_a - sum_b + 2 * CAST(sum_ij AS HUGEINT))
         |    * 1000000 // n_pairs AS BIGINT) AS ri_ppm,
         |  round(CASE WHEN CAST(n_pairs AS DOUBLE) * (CAST(sum_a AS DOUBLE) + CAST(sum_b AS DOUBLE))
         |      - 2 * (CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE)) = 0 THEN 1.0
         |    ELSE (2 * (CAST(n_pairs AS DOUBLE) * CAST(sum_ij AS DOUBLE)
         |      - CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE))) /
         |      (CAST(n_pairs AS DOUBLE) * (CAST(sum_a AS DOUBLE) + CAST(sum_b AS DOUBLE))
         |      - 2 * (CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE))) END, 6) AS ari
         |FROM f""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val docs = documents(s, d)
      val a = resolvedClusters(s, d).select(col("doc_id"), col("cluster_id"))
      val sp = Dedup
        .simhashPairs(docs, "doc_id", "text", maxHamming = 8)
        .select("id1", "id2")
      val b = Dedup
        .connectedComponents(sp, docs.select("doc_id"))
        .toDF("doc_id", "comp")
      Dedup.clusterAgreement(a, b, "doc_id", "cluster_id", "comp")
    },

    // E267 multi-signal dedup scorecard: every (lang, source)-blocked
    // candidate pair with all four signal families side by side — exact
    // digest equality, exact shingle Jaccard, MinHash signature agreement,
    // SimHash Hamming — the decision table a keep/drop policy reads
    // instead of any single score. Per-doc sketches compute once into one
    // feature row; per-pair signals are scalar expressions. The twin
    // composes the already-oracled fragment generators for all four
    // families into one feature CTE.
    QEntry.sql(
      "dedup_signal_matrix", {
        val ms = (0 until 8).map(j => s"${minhashSql(j)} AS m$j").mkString(", ")
        val mhMatches =
          (0 until 8).map(j => s"(CASE WHEN a.m$j = b.m$j THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH cand AS (
           |  SELECT id1, id2, jaccard FROM (
           |    SELECT a.doc_id AS id1, b.doc_id AS id2,
           |      round(CAST(len(list_intersect(a.sh2, b.sh2)) AS DOUBLE) /
           |            (len(a.sh2) + len(b.sh2) - len(list_intersect(a.sh2, b.sh2))), 4)
           |        AS jaccard,
           |      len(list_intersect(a.sh2, b.sh2)) AS common
           |    FROM (SELECT doc_id, lang, source, list_distinct($shinglesSql) AS sh2
           |          FROM (SELECT doc_id, lang, source, $wordsSql AS words FROM documents) w) a
           |    JOIN (SELECT doc_id, lang, source, list_distinct($shinglesSql) AS sh2
           |          FROM (SELECT doc_id, lang, source, $wordsSql AS words FROM documents) w) b
           |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id) t
           |  WHERE common >= 1),
           |ft AS (
           |  SELECT doc_id, xh, m0, m1, m2, m3, m4, m5, m6, m7, simhash FROM (
           |    SELECT doc_id, md5(text) AS xh, $ms,
           |      array_to_string(list_transform(range(0, 64), j ->
           |        CASE WHEN 2 * list_sum(list_transform(words, t2 ->
           |               ((strpos('0123456789abcdef',
           |                        substr(md5(t2), CAST(j // 4 AS INT) + 1, 1)) - 1)
           |                // CAST(pow(2, 3 - (j % 4)) AS BIGINT)) % 2))
           |             >= len(words) THEN '1' ELSE '0' END), '') AS simhash
           |    FROM (SELECT doc_id, text, words, $shinglesSql AS sh
           |          FROM (SELECT doc_id, text, $wordsSql AS words FROM documents) w) s) z)
           |SELECT c.id1, c.id2, c.jaccard,
           |  CAST(CASE WHEN a.xh = b.xh THEN 1 ELSE 0 END AS BIGINT) AS exact_dup,
           |  CAST($mhMatches AS BIGINT) AS mh_perms,
           |  CAST(len(list_filter(range(1, 65), i ->
           |    substr(a.simhash, CAST(i AS INT), 1) != substr(b.simhash, CAST(i AS INT), 1)))
           |    AS BIGINT) AS sh_hamming
           |FROM cand c JOIN ft a ON c.id1 = a.doc_id JOIN ft b ON c.id2 = b.doc_id"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      Dedup.signalMatrix(documents(s, d), "doc_id", "text", Seq("lang", "source"))
    },

    // Exact n-gram Jaccard within (lang, source) candidate blocks; only pairs
    // sharing ≥1 shingle appear (jaccard > 0), matching the join formulation.
    QEntry.sql(
      "dedup_ngram_jaccard",
      s"""SELECT id1, id2, jaccard FROM (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard,
         |    len(list_intersect(a.sh, b.sh)) AS common
         |  FROM (SELECT doc_id, lang, source, list_distinct($shinglesSql) AS sh
         |        FROM (SELECT doc_id, lang, source, $wordsSql AS words FROM documents) w) a
         |  JOIN (SELECT doc_id, lang, source, list_distinct($shinglesSql) AS sh
         |        FROM (SELECT doc_id, lang, source, $wordsSql AS words FROM documents) w) b
         |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id) t
         |WHERE common >= 1""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Dedup.ngramJaccardPairs(documents(s, d), "doc_id", "text", Seq("lang", "source"))
    },

    // E426 prefix-filtered exact similarity join ([[Dedup
    // .prefixJaccardPairs]]): every J ≥ 0.6 pair CORPUS-WIDE — no blocking
    // columns, no MinHash false negatives. The oracle is the brute-force
    // all-pairs definition (125k list_intersects at sf0.01), so the hash
    // match proves the prefix filter's losslessness end to end: rarity-
    // ranked prefixes + length filter + exact verify ≡ the full quadratic
    // join, restricted to nothing. All thresholds exact integer ppm.
    QEntry.sql(
      "dedup_prefix_join",
      s"""SELECT id1, id2, common, jaccard_ppm FROM (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS common,
         |    CAST(len(a.sh) + len(b.sh) AS BIGINT) AS tot,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) * 1000000
         |      // (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
         |      AS jaccard_ppm
         |  FROM (SELECT doc_id, list_distinct($shinglesSql) AS sh
         |        FROM (SELECT doc_id, $wordsSql AS words FROM documents) w
         |        WHERE len(list_distinct($shinglesSql)) > 0) a
         |  JOIN (SELECT doc_id, list_distinct($shinglesSql) AS sh
         |        FROM (SELECT doc_id, $wordsSql AS words FROM documents) w
         |        WHERE len(list_distinct($shinglesSql)) > 0) b
         |  ON a.doc_id < b.doc_id) t
         |WHERE common * 1000000 >= 600000 * (tot - common)"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Dedup.prefixJaccardPairs(documents(s, d), "doc_id", "text", tauPpm = 600000L)
    },

    // E378 set-similarity coefficient matrix ([[Dedup
    // .ngramSimilarityPairs]]): Jaccard, Dice and overlap side by side for
    // every blocked shingle pair — thresholds tuned on one coefficient do
    // not transfer (a doc inside its quote-superset scores ~0.5 / ~0.67 /
    // 1.0 respectively), and all three derive from the SAME intersection
    // count, so the matrix costs the same one join as any single score.
    QEntry.sql(
      "dedup_sim_coefficients",
      s"""SELECT id1, id2, common, jaccard, dice, overlap FROM (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS common,
         |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS jaccard,
         |    round(CAST(2 * len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          (len(a.sh) + len(b.sh)), 4) AS dice,
         |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |          least(len(a.sh), len(b.sh)), 4) AS overlap
         |  FROM (SELECT doc_id, lang, source, list_distinct($shinglesSql) AS sh
         |        FROM (SELECT doc_id, lang, source, $wordsSql AS words FROM documents) w) a
         |  JOIN (SELECT doc_id, lang, source, list_distinct($shinglesSql) AS sh
         |        FROM (SELECT doc_id, lang, source, $wordsSql AS words FROM documents) w) b
         |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id) t
         |WHERE common >= 1""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Dedup.ngramSimilarityPairs(documents(s, d), "doc_id", "text", Seq("lang", "source"))
    },

    // E387 Neyman-optimal allocation ([[graft.operators.Sampling
    // .neymanAllocation]]): the budget split ∝ N_h·σ_h that minimizes the
    // stratified-mean variance — E327's proportional apportionment weighted
    // by within-stratum spread, so a volatile stratum earns extra samples
    // exactly when they buy the most precision. N_h·σ_h stays the exact
    // DECIMAL/HUGEINT radicand √(N·Σx²−(Σx)²) into one correctly-rounded
    // sqrt; the largest-remainder split then runs in pure integer
    // arithmetic and sums EXACTLY to the budget.
    QEntry.sql(
      "sample_neyman_alloc",
      """WITH o AS (SELECT o_orderpriority AS priority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |st AS (SELECT priority, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
        |    CAST(sum(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS HUGEINT) AS s2
        |  FROM o GROUP BY priority),
        |wt AS (SELECT priority, n, sqrt(CAST(n * s2 - s * s AS DOUBLE)) AS w FROM st),
        |wu AS (SELECT priority, n, w,
        |    CAST(CAST(round(w, 6) AS DECIMAL(28,6)) * 1000000 AS HUGEINT) AS wu FROM wt),
        |sw AS (SELECT CAST(sum(wu) AS HUGEINT) AS sw FROM wu),
        |based AS (SELECT priority, n, w,
        |    CAST((1000 * wu) // sw AS BIGINT) AS base,
        |    (1000 * wu) % sw AS rem FROM wu CROSS JOIN sw),
        |lft AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS l FROM based),
        |rr AS (SELECT priority, n, w, base, rem,
        |    row_number() OVER (ORDER BY rem DESC, priority) AS rr FROM based)
        |SELECT priority, n AS n_rows, round(w, 6) AS weight,
        |  CAST(base + CASE WHEN rr <= l THEN 1 ELSE 0 END AS BIGINT) AS alloc
        |FROM rr CROSS JOIN lft"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      graft.operators.Sampling.neymanAllocation(
        orders(s, d).select(
          col("o_orderpriority").as("priority"),
          round(col("o_totalprice") * 100).cast("long").as("cents")
        ),
        Seq("priority"),
        "cents",
        1000L
      )
    },

    // E253 prefix-filter set-similarity join (AllPairs/PPJoin): exact
    // 3-word-shingle Jaccard ≥ 80% with candidates generated ONLY from each
    // doc's p = sz − ⌈τ·sz⌉ + 1 globally-RAREST shingles — lossless by the
    // prefix lemma (unlike LSH) and boilerplate-proof (a naive shingle join
    // is quadratic in its hottest n-gram; prefixes hold each doc's rarest —
    // with the PPJoin length + position bounds, 978× measured candidate
    // pruning at sf0.1: 12,784 of 12.5M possible pairs). The twin replays the
    // df-ranking, prefix cut, candidate join, and exact verification step
    // for step (minus the engine's extra PPJoin length filter, which only
    // drops non-qualifying candidates, so final rows agree) — ties in the
    // ranking are impossible (shingle is unique within a doc), so the
    // window is cross-engine deterministic; losslessness vs naive
    // all-pairs is pinned in PipelineOpsSpec.
    QEntry.sql(
      "dedup_prefix_pairs",
      s"""WITH wd AS (SELECT doc_id AS id, $wordsSql AS words FROM documents),
         |w AS (SELECT id, list_distinct($shinglesSql) AS ws FROM wd),
         |d AS (SELECT id, ws, len(ws) AS sz FROM w WHERE len(ws) > 0),
         |e AS (SELECT id, sz, unnest(ws) AS t FROM d),
         |f AS (SELECT t, count(*) AS df FROM e GROUP BY t),
         |r AS (SELECT e.id, e.sz, e.t,
         |    row_number() OVER (PARTITION BY e.id ORDER BY f.df, e.t) AS pos
         |  FROM e JOIN f USING (t)),
         |p AS (SELECT id, t FROM r
         |  WHERE pos <= sz - ((sz * 800000 + 999999) // 1000000) + 1),
         |c AS (SELECT DISTINCT a.id AS id1, b.id AS id2
         |  FROM p a JOIN p b ON a.t = b.t AND a.id < b.id),
         |v AS (SELECT c.id1, c.id2, da.sz AS sza, db.sz AS szb,
         |    len(list_intersect(da.ws, db.ws)) AS common
         |  FROM c JOIN d da ON c.id1 = da.id JOIN d db ON c.id2 = db.id)
         |SELECT id1, id2, CAST(common AS BIGINT) AS common,
         |  CAST(common * 1000000 // (sza + szb - common) AS BIGINT) AS jac_ppm
         |FROM v WHERE common * 1000000 // (sza + szb - common) >= 800000"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Dedup.prefixFilterPairs(documents(s, d), "doc_id", "text", tauPpm = 800000L)
    },

    // Exact-substring duplication per Lee et al. 2022: share of each doc's
    // 8-token spans appearing verbatim in ≥ 2 distinct docs. The paper's
    // suffix array is single-machine; the distributed formulation is span-
    // digest aggregation (only md5 hex shuffles). The twin replays the
    // span construction position-for-position; counts and the ppm division
    // are exact integers, so rows hash-match bit-for-bit.
    QEntry.sql(
      "dedup_exact_substring",
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |           FROM documents),
        |sp AS (SELECT doc_id, md5(s) AS h FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(words) - 7, 0) + 1),
        |    i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]
        |      || ' ' || words[i+4] || ' ' || words[i+5] || ' ' || words[i+6]
        |      || ' ' || words[i+7])) AS s FROM w) t),
        |dup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df
        |                       FROM sp GROUP BY h) t WHERE df >= 2),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
        |    CAST(count(*) FILTER (h IN (SELECT h FROM dup)) AS BIGINT) AS n_dup
        |  FROM sp GROUP BY doc_id)
        |SELECT w.doc_id, COALESCE(tot.n_spans, 0) AS n_spans,
        |  COALESCE(tot.n_dup, 0) AS n_dup,
        |  CAST(CASE WHEN COALESCE(tot.n_spans, 0) = 0 THEN -1
        |       ELSE COALESCE(tot.n_dup, 0) * 1000000 // tot.n_spans END AS BIGINT)
        |    AS dup_ppm
        |FROM w LEFT JOIN tot USING (doc_id)"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) => Dedup.spanDuplication(documents(s, d), "doc_id", "text", k = 8) },

    // E268 INCREMENTAL exact-substring duplication — the persisted-index
    // family's fourth member (exact hash E88, MinHash E257, Hamming E261,
    // cosine E262): the corpus's distinct 8-token span digests persist
    // once, and a synthetic batch — every (doc_id % 10 = 7) doc re-sent
    // verbatim (all spans duplicated) plus every (doc_id % 10 = 3) doc
    // REVERSED (novel spans) — probes them with one digest semi-join, its
    // only text pass over itself. The twin replays membership over
    // corpus ∪ batch restricted to batch rows.
    QEntry.sql(
      "dedup_incremental_spans", {
        val spanList =
          """list_transform(range(1, greatest(len(words) - 7, 0) + 1),
            |  i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' || words[i+3]
            |    || ' ' || words[i+4] || ' ' || words[i+5] || ' ' || words[i+6]
            |    || ' ' || words[i+7])""".stripMargin.replaceAll("\\s+", " ")
        s"""WITH csp AS (SELECT DISTINCT md5(s) AS h FROM (
           |  SELECT unnest($spanList) AS s
           |  FROM (SELECT $wordsSql AS words FROM documents) w) t),
           |bdocs AS (
           |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 7
           |  UNION ALL
           |  SELECT doc_id + 2000000 AS doc_id, reverse(text) AS text
           |  FROM documents WHERE doc_id % 10 = 3),
           |bw AS (SELECT doc_id, $wordsSql AS words FROM bdocs),
           |bsp AS (SELECT doc_id, md5(s) AS h FROM (
           |  SELECT doc_id, unnest($spanList) AS s FROM bw) t),
           |bdup AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS c
           |                        FROM bsp GROUP BY h) t WHERE c >= 2),
           |dup AS (SELECT h FROM csp UNION SELECT h FROM bdup),
           |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
           |    CAST(count(*) FILTER (h IN (SELECT h FROM dup)) AS BIGINT) AS n_dup
           |  FROM bsp GROUP BY doc_id)
           |SELECT bw.doc_id, COALESCE(tot.n_spans, 0) AS n_spans,
           |  COALESCE(tot.n_dup, 0) AS n_dup,
           |  CAST(CASE WHEN COALESCE(tot.n_spans, 0) = 0 THEN -1
           |       ELSE COALESCE(tot.n_dup, 0) * 1000000 // tot.n_spans END AS BIGINT)
           |    AS dup_ppm
           |FROM bw LEFT JOIN tot USING (doc_id)"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val docs = documents(s, d)
      val dir = SharedBuild.dir(s, d, "spidx") { root =>
        Dedup.buildSpanIndex(docs, "doc_id", "text", s"$root/idx")
      } + "/idx"
      val batch = docs
        .filter(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .unionByName(
          docs
            .filter(col("doc_id") % 10 === 3)
            .select((col("doc_id") + 2000000L).as("doc_id"), reverse(col("text")).as("text")))
      Dedup.incrementalSpanDuplication(batch, "doc_id", "text", dir)
    },

    // E283 incremental exact-substring REWRITE — the per-ingest mitigation
    // pass (E259's rewrite, E268's persisted-index shape): batch tokens
    // covered by a span in the persisted corpus span set are cut (the
    // corpus ingested earlier, so it owns — temporal keep-first), and
    // batch-internal df ≥ 2 spans cut everywhere but their min-id batch
    // owner. Batch ids exceed all corpus ids, so this is exactly the
    // monolithic spanRewrite over corpus ∪ batch restricted to batch rows
    // — which is what the twin replays. Plants: verbatim re-sends (fully
    // cut, kept_md5 = md5('')) and a reversed-text batch-internal pair
    // (min-id copy keeps everything, its twin is cut).
    QEntry.sql(
      "dedup_incremental_rewrite",
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words FROM (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents
        |    WHERE doc_id % 100 = 0
        |  UNION ALL SELECT doc_id + 2000000 AS doc_id, reverse(text) AS text
        |    FROM documents WHERE doc_id % 137 = 0
        |  UNION ALL SELECT doc_id + 3000000 AS doc_id, reverse(text) AS text
        |    FROM documents WHERE doc_id % 137 = 0) u),
        |sp AS (SELECT doc_id, s.p AS p, s.h AS h FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(words) - 7, 0) + 1),
        |    i -> struct_pack(p := i,
        |      h := md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' '
        |        || words[i+3] || ' ' || words[i+4] || ' ' || words[i+5] || ' '
        |        || words[i+6] || ' ' || words[i+7])))) AS s FROM w) t),
        |own AS (SELECT h, min(doc_id) AS own FROM (SELECT DISTINCT doc_id, h FROM sp) d
        |        GROUP BY h HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, j FROM (
        |  SELECT sp.doc_id, unnest(range(sp.p, sp.p + 8)) AS j
        |  FROM sp JOIN own ON sp.h = own.h WHERE sp.doc_id != own.own) c),
        |tk AS (SELECT doc_id, t.j AS j, t.w AS w FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(words) + 1),
        |    i -> struct_pack(j := i, w := words[i]))) AS t FROM w) z),
        |kept AS (SELECT tk.doc_id, tk.j, tk.w FROM tk LEFT JOIN cov
        |         ON tk.doc_id = cov.doc_id AND tk.j = cov.j WHERE cov.j IS NULL),
        |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nk,
        |          md5(string_agg(w, ' ' ORDER BY j)) AS kmd5 FROM kept GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
        |  CAST(len(words) - COALESCE(nk, 0) AS BIGINT) AS n_dropped,
        |  COALESCE(kmd5, md5('')) AS kept_md5
        |FROM w LEFT JOIN reb USING (doc_id)
        |WHERE w.doc_id >= 1000000"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val docs = documents(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sprw").resolve("idx").toString
      Dedup.buildSpanIndex(docs, "doc_id", "text", dir)
      val batch = docs
        .filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 137 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), reverse(col("text")).as("text")))
        .unionByName(docs.filter(col("doc_id") % 137 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), reverse(col("text")).as("text")))
      Dedup.incrementalSpanRewrite(batch, "doc_id", "text", dir)
    },

    // E259 exact-substring dedup as a REWRITE — the mitigation behind
    // dedup_exact_substring's measurement: tokens covered by any 8-token
    // span appearing in ≥ 2 docs are cut from every NON-owner doc
    // (keep-first: the min doc id keeps its text), survivors rejoined in
    // order. The twin replays span ownership, coverage expansion, and the
    // token-level rebuild position-for-position; the rewritten text is
    // witnessed by its md5 so whole documents never need comparing.
    QEntry.sql(
      "dedup_span_rewrite",
      """WITH w AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS words
        |           FROM documents),
        |sp AS (SELECT doc_id, s.p AS p, s.h AS h FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, greatest(len(words) - 7, 0) + 1),
        |    i -> struct_pack(p := i,
        |      h := md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' '
        |        || words[i+3] || ' ' || words[i+4] || ' ' || words[i+5] || ' '
        |        || words[i+6] || ' ' || words[i+7])))) AS s FROM w) t),
        |own AS (SELECT h, min(doc_id) AS own FROM (SELECT DISTINCT doc_id, h FROM sp) d
        |        GROUP BY h HAVING count(*) >= 2),
        |cov AS (SELECT DISTINCT doc_id, j FROM (
        |  SELECT sp.doc_id, unnest(range(sp.p, sp.p + 8)) AS j
        |  FROM sp JOIN own ON sp.h = own.h WHERE sp.doc_id != own.own) c),
        |tk AS (SELECT doc_id, t.j AS j, t.w AS w FROM (
        |  SELECT doc_id, unnest(list_transform(range(1, len(words) + 1),
        |    i -> struct_pack(j := i, w := words[i]))) AS t FROM w) z),
        |kept AS (SELECT tk.doc_id, tk.j, tk.w FROM tk LEFT JOIN cov
        |         ON tk.doc_id = cov.doc_id AND tk.j = cov.j WHERE cov.j IS NULL),
        |reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nk,
        |          md5(string_agg(w, ' ' ORDER BY j)) AS kmd5 FROM kept GROUP BY doc_id)
        |SELECT w.doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
        |  CAST(len(words) - COALESCE(nk, 0) AS BIGINT) AS n_dropped,
        |  COALESCE(kmd5, md5('')) AS kept_md5
        |FROM w LEFT JOIN reb USING (doc_id)"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) => Dedup.spanRewrite(documents(s, d), "doc_id", "text", k = 8) },

    // Asymmetric shingle CONTAINMENT over the same blocked candidates —
    // C(A→B) = |∩|/|S_A| in both directions per pair: near 1 when one
    // document (almost) embeds in the other, which symmetric Jaccard
    // dilutes whenever sizes differ — the quote/subset duplication
    // training-data dedup misses if it only thresholds Jaccard. Same
    // shingle-equi-join + checkpoint shape as dedup_ngram_jaccard; only
    // the normalization differs.
    QEntry.sql(
      "dedup_containment",
      s"""SELECT id1, id2, cont_1in2, cont_2in1 FROM (
         |  SELECT a.doc_id AS id1, b.doc_id AS id2,
         |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh), 4)
         |      AS cont_1in2,
         |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(b.sh), 4)
         |      AS cont_2in1,
         |    len(list_intersect(a.sh, b.sh)) AS common
         |  FROM (SELECT doc_id, lang, source, list_distinct($shinglesSql) AS sh
         |        FROM (SELECT doc_id, lang, source, $wordsSql AS words FROM documents) w) a
         |  JOIN (SELECT doc_id, lang, source, list_distinct($shinglesSql) AS sh
         |        FROM (SELECT doc_id, lang, source, $wordsSql AS words FROM documents) w) b
         |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id) t
         |WHERE common >= 1""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Dedup.ngramContainmentPairs(documents(s, d), "doc_id", "text", Seq("lang", "source"))
    },

    // Sketch-quality evaluation for the near-dup pipeline: precision and
    // recall of the PRODUCTION SimHash blocking (16-bit bands, hamming
    // ≤ 8) against exact shingle-Jaccard ≥ 0.5 ground truth, restricted
    // to the truth's (lang, source) domain — the measured-accuracy
    // discipline the deterministic sketches follow (E192 HLL, E204
    // Bloom), applied to dedup itself. Every count is an exact BIGINT
    // from pair-set joins; -1 sentinels keep degenerate empty sides
    // deterministic rather than division errors.
    QEntry.sql(
      "dedup_simhash_eval",
      s"""WITH sk AS (SELECT doc_id, lang, source,
         |  array_to_string(list_transform(range(0, 64), j ->
         |  CASE WHEN 2 * list_sum(list_transform(words, t ->
         |         ((strpos('0123456789abcdef', substr(md5(t), CAST(j // 4 AS INT) + 1, 1)) - 1)
         |          // CAST(pow(2, 3 - (j % 4)) AS BIGINT)) % 2))
         |       >= len(words) THEN '1' ELSE '0' END), '') AS simhash
         |  FROM (SELECT doc_id, lang, source, $wordsSql AS words FROM documents) w),
         |banded AS (SELECT doc_id, lang, source, simhash,
         |    b, substr(simhash, CAST(b * 16 + 1 AS INT), 16) AS bv
         |  FROM sk, (SELECT unnest(range(0, 4)) AS b) bs),
         |cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         |    a.simhash AS s1, b.simhash AS s2
         |  FROM banded a JOIN banded b
         |    ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
         |    AND a.lang = b.lang AND a.source = b.source),
         |pred AS (SELECT id1, id2 FROM (
         |  SELECT id1, id2,
         |    CAST(len(list_filter(range(1, 65), i ->
         |      substr(s1, CAST(i AS INT), 1) != substr(s2, CAST(i AS INT), 1))) AS BIGINT)
         |      AS hamming
         |  FROM cand) t WHERE hamming <= 8),
         |sh AS (SELECT doc_id, lang, source, list_distinct($shinglesSql) AS sh
         |  FROM (SELECT doc_id, lang, source, $wordsSql AS words FROM documents) w),
         |tru AS (SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM sh a JOIN sh b
         |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) >= 1
         |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.5),
         |h AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
         |  FROM pred JOIN tru ON pred.id1 = tru.id1 AND pred.id2 = tru.id2),
         |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pred FROM pred),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tru)
         |SELECT nt.n_true, np.n_pred, h.n_hit,
         |  CASE WHEN np.n_pred = 0 THEN -1
         |    ELSE CAST(h.n_hit * 1000000 // np.n_pred AS BIGINT) END AS precision_ppm,
         |  CASE WHEN nt.n_true = 0 THEN -1
         |    ELSE CAST(h.n_hit * 1000000 // nt.n_true AS BIGINT) END AS recall_ppm
         |FROM nt CROSS JOIN np CROSS JOIN h"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val meta = documents(s, d).select(col("doc_id"), col("lang"), col("source"))
      val pred = Dedup
        .simhashPairs(documents(s, d), "doc_id", "text", maxHamming = 8)
        .join(broadcast(meta.toDF("id1", "l1", "s1_")), "id1")
        .join(broadcast(meta.toDF("id2", "l2", "s2_")), "id2")
        .filter(col("l1") === col("l2") && col("s1_") === col("s2_"))
        .select("id1", "id2")
        .localCheckpoint()
      val tru = jaccardTruthPairs(s, d)
      val h = pred.join(tru, Seq("id1", "id2")).agg(count(lit(1)).as("n_hit"))
      val np = pred.agg(count(lit(1)).as("n_pred"))
      val nt = tru.agg(count(lit(1)).as("n_true"))
      nt.crossJoin(broadcast(np))
        .crossJoin(broadcast(h))
        .select(
          col("n_true"),
          col("n_pred"),
          col("n_hit"),
          when(col("n_pred") === 0L, -1L)
            .otherwise(expr("n_hit * 1000000L div n_pred"))
            .cast("long")
            .as("precision_ppm"),
          when(col("n_true") === 0L, -1L)
            .otherwise(expr("n_hit * 1000000L div n_true"))
            .cast("long")
            .as("recall_ppm")
        )
    },

    // Dedup threshold sweep: blocked-pair counts at Jaccard cutoffs 30–70%
    // — the removal-volume table read against the accuracy evals before
    // fixing the production threshold (each 10 points of τ trades recall
    // for survivors; this is the size of that trade on the actual corpus).
    // One pass over the blocked pair frame, five conditional counts,
    // unpivoted to rows.
    QEntry.sql(
      "dedup_threshold_sweep",
      s"""WITH sh AS (SELECT doc_id, lang, source, list_distinct($shinglesSql) AS sh
         |  FROM (SELECT doc_id, lang, source, $wordsSql AS words FROM documents) w),
         |p AS (SELECT round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) AS j
         |  FROM sh a JOIN sh b
         |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) >= 1),
         |c AS (SELECT
         |    CAST(sum(CASE WHEN j >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS t30,
         |    CAST(sum(CASE WHEN j >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS t40,
         |    CAST(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS t50,
         |    CAST(sum(CASE WHEN j >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS t60,
         |    CAST(sum(CASE WHEN j >= 0.7 THEN 1 ELSE 0 END) AS BIGINT) AS t70
         |  FROM p)
         |SELECT tau_pct, n_pairs FROM (
         |  SELECT 30 AS tau_pct, t30 AS n_pairs FROM c
         |  UNION ALL SELECT 40, t40 FROM c
         |  UNION ALL SELECT 50, t50 FROM c
         |  UNION ALL SELECT 60, t60 FROM c
         |  UNION ALL SELECT 70, t70 FROM c) u"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val pairs = Dedup
        .ngramJaccardPairs(documents(s, d), "doc_id", "text", Seq("lang", "source"))
        .select(col("jaccard").as("j"))
      val c = pairs.agg(
        sum(when(col("j") >= 0.3, 1L).otherwise(0L)).cast("long").as("t30"),
        sum(when(col("j") >= 0.4, 1L).otherwise(0L)).cast("long").as("t40"),
        sum(when(col("j") >= 0.5, 1L).otherwise(0L)).cast("long").as("t50"),
        sum(when(col("j") >= 0.6, 1L).otherwise(0L)).cast("long").as("t60"),
        sum(when(col("j") >= 0.7, 1L).otherwise(0L)).cast("long").as("t70")
      )
      c.select(
        expr(
          "stack(5, 30, t30, 40, t40, 50, t50, 60, t60, 70, t70) AS (tau_pct, n_pairs)"
        )
      ).select(col("tau_pct").cast("int").as("tau_pct"), col("n_pairs").cast("long").as("n_pairs"))
    },

    // MinHash-LSH counterpart of dedup_simhash_eval: precision/recall of
    // the PRODUCTION banding path (8 perms, 4 bands of 2) against the same
    // exact shingle-Jaccard ≥ 0.5 truth, on the truth's (lang, source)
    // domain. Together the two evals rank the engine's two sketch-blocking
    // schemes on the actual corpus — the measurement that decides which
    // dedup pass a 100 TB run configures.
    QEntry.sql(
      "dedup_minhash_eval",
      s"""WITH pred0 AS ($pairsSql),
         |meta AS (SELECT doc_id, lang, source FROM documents),
         |pred AS (SELECT pred0.id1, pred0.id2
         |  FROM pred0
         |  JOIN meta m1 ON pred0.id1 = m1.doc_id
         |  JOIN meta m2 ON pred0.id2 = m2.doc_id
         |  WHERE m1.lang = m2.lang AND m1.source = m2.source),
         |sh AS (SELECT doc_id, lang, source, list_distinct($shinglesSql) AS sh
         |  FROM (SELECT doc_id, lang, source, $wordsSql AS words FROM documents) w),
         |tru AS (SELECT a.doc_id AS id1, b.doc_id AS id2
         |  FROM sh a JOIN sh b
         |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
         |  WHERE len(list_intersect(a.sh, b.sh)) >= 1
         |    AND round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))), 4) >= 0.5),
         |h AS (SELECT CAST(count(*) AS BIGINT) AS n_hit
         |  FROM pred JOIN tru ON pred.id1 = tru.id1 AND pred.id2 = tru.id2),
         |np AS (SELECT CAST(count(*) AS BIGINT) AS n_pred FROM pred),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tru)
         |SELECT nt.n_true, np.n_pred, h.n_hit,
         |  CASE WHEN np.n_pred = 0 THEN -1
         |    ELSE CAST(h.n_hit * 1000000 // np.n_pred AS BIGINT) END AS precision_ppm,
         |  CASE WHEN nt.n_true = 0 THEN -1
         |    ELSE CAST(h.n_hit * 1000000 // nt.n_true AS BIGINT) END AS recall_ppm
         |FROM nt CROSS JOIN np CROSS JOIN h"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val meta = documents(s, d).select(col("doc_id"), col("lang"), col("source"))
      val pred = Dedup
        .minhashCandidatePairs(documents(s, d), "doc_id", "text")
        .join(broadcast(meta.toDF("id1", "l1", "s1_")), "id1")
        .join(broadcast(meta.toDF("id2", "l2", "s2_")), "id2")
        .filter(col("l1") === col("l2") && col("s1_") === col("s2_"))
        .select("id1", "id2")
        .localCheckpoint()
      val tru = jaccardTruthPairs(s, d)
      val h = pred.join(tru, Seq("id1", "id2")).agg(count(lit(1)).as("n_hit"))
      val np = pred.agg(count(lit(1)).as("n_pred"))
      val nt = tru.agg(count(lit(1)).as("n_true"))
      nt.crossJoin(broadcast(np))
        .crossJoin(broadcast(h))
        .select(
          col("n_true"),
          col("n_pred"),
          col("n_hit"),
          when(col("n_pred") === 0L, -1L)
            .otherwise(expr("n_hit * 1000000L div n_pred"))
            .cast("long")
            .as("precision_ppm"),
          when(col("n_true") === 0L, -1L)
            .otherwise(expr("n_hit * 1000000L div n_true"))
            .cast("long")
            .as("recall_ppm")
        )
    },

    // Embedding-cosine near-dup pairs on the LSH-blocked scale path (the plan
    // you'd run at 100 TB: bucket equi-joins OR-ed over 4 independent 4-bit
    // hyperplane tables, candidate pairs deduplicated before the cosine —
    // never all-pairs). The twin regenerates the identical md5 hyperplanes
    // and bucket keys in SQL, so the blocking itself is verified
    // value-for-value, not just the final pairs.
    QEntry.sql(
      "dedup_embedding_cosine",
      s"""WITH planes AS (
         |  SELECT t, p, list_transform(range(0, $EmbDim), i ->
         |    CAST(CAST(list_sum(list_transform(range(1, 9), ii ->
         |      (strpos('0123456789abcdef',
         |              substr(md5('plane|' || CAST(42 + t AS VARCHAR) || '|' ||
         |                         CAST(p AS VARCHAR) || '|' || CAST(i AS VARCHAR)),
         |                     CAST(ii AS INT), 1)) - 1) * pow(16, 8 - ii)))
         |      / 4294967296.0 * 2 - 1 AS REAL) AS DOUBLE)) AS w
         |  FROM (SELECT unnest(range(0, 4)) AS t), (SELECT unnest(range(0, 4)) AS p)),
         |vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |         FROM embeddings),
         |buckets AS (
         |  SELECT vec_id, t,
         |    string_agg(CASE WHEN list_dot_product(e, w) >= 0 THEN '1' ELSE '0' END,
         |               '' ORDER BY p) AS bucket
         |  FROM vecs, planes GROUP BY vec_id, t),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS id1, b.vec_id AS id2
         |  FROM buckets a JOIN buckets b
         |  ON a.t = b.t AND a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT id1, id2, cos FROM (
         |  SELECT id1, id2,
         |    round(list_dot_product(va.e, vb.e) /
         |          (sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e))), 6) AS cos
         |  FROM cand JOIN vecs va ON id1 = va.vec_id
         |            JOIN vecs vb ON id2 = vb.vec_id) t WHERE cos >= 0.45"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Similarity
        .nearDupPairs(embeddings(s, d), "vec_id", "embedding", 0.45, blocked = true,
          bits = 4, dim = EmbDim, tables = 4)
    },

    // SemDeDup (cluster-then-prune): near-dup cosine restricted to the
    // vector's own k-means-style cluster — the composition that bounds the
    // quadratic by cluster size instead of blocking tables. The twin replays
    // seed pick, assignment argmin, and the within-cluster prune verbatim;
    // every double (d², cos) is bit-identical cross-engine via the pinned
    // fold order, so the removed SET is hash-checked, not just counted.
    QEntry.sql(
      "dedup_semantic",
      """WITH vecs AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |sd AS (SELECT vec_id AS sid, e AS ce,
        |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
        |  FROM vecs ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |asg AS (SELECT v.vec_id, v.e, s.r,
        |    (list_dot_product(v.e, v.e) - 2 * list_dot_product(v.e, s.ce))
        |      + list_dot_product(s.ce, s.ce) AS d2
        |  FROM vecs v CROSS JOIN sd s),
        |best AS (SELECT vec_id, e, r FROM (SELECT vec_id, e, r,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, r) AS rn FROM asg) t
        |  WHERE rn = 1),
        |pairs AS (SELECT b.vec_id AS bid, a.vec_id AS aid, b.r,
        |    round(list_dot_product(a.e, b.e) /
        |          (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))),
        |          6) AS cos
        |  FROM best a JOIN best b ON a.r = b.r AND a.vec_id < b.vec_id)
        |SELECT bid AS vec_id, CAST(r AS BIGINT) AS cluster, aid AS dup_of, cos
        |FROM (SELECT bid, r, aid, cos,
        |    row_number() OVER (PARTITION BY bid ORDER BY aid) AS rn
        |  FROM pairs WHERE cos >= 0.35) t WHERE rn = 1"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Similarity.semanticDedup(embeddings(s, d), "vec_id", "embedding", k = 8, threshold = 0.35)
    },

    // E360 Maximal-Marginal-Relevance re-ranking ([[Similarity.mmrRerank]],
    // Carbonell & Goldstein 1998): the diversification stage between
    // "top-n most similar" and "k results worth training on" — greedy
    // per-query argmax of λ·rel − (1−λ)·max-sim-to-selected over the exact
    // top-20 candidates, k = 8 picks, λ = 0.7. Every greedy step is a
    // query-partitioned window argmax (|queries|·n rows shuffled per step,
    // never corpus²); the twin unrolls the identical 8 steps as CTEs over
    // the same round-6 cosines, with the λ literals injected as Scala's
    // round-tripped doubles so 1−λ matches bit-for-bit.
    QEntry.sql(
      "ann_mmr_rerank", {
        val lam = 0.7
        val lamS = s"CAST('${lam}' AS DOUBLE)"
        val lamC = s"CAST('${1 - lam}' AS DOUBLE)"
        def score(rel: String, ms: String) =
          s"round($lamS * $rel - $lamC * coalesce($ms, 0.0), 6)"
        val sb = new StringBuilder
        sb.append(
          """WITH q AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            |  FROM embeddings WHERE vec_id < 5),
            |cc AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
            |  FROM embeddings),
            |cand AS MATERIALIZED (SELECT query_id, neighbor_id, rel FROM (
            |  SELECT query_id, neighbor_id, rel,
            |    row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rk
            |  FROM (SELECT q.vec_id AS query_id, cc.vec_id AS neighbor_id,
            |      round(list_dot_product(q.e, cc.e) /
            |            (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(cc.e, cc.e))),
            |            6) AS rel
            |    FROM q, cc WHERE cc.vec_id != q.vec_id) s) t WHERE rk <= 20),
            |pr AS MATERIALIZED (SELECT x.query_id, x.neighbor_id AS a, y.neighbor_id AS b,
            |    round(list_dot_product(ca.e, cb.e) /
            |          (sqrt(list_dot_product(ca.e, ca.e)) * sqrt(list_dot_product(cb.e, cb.e))),
            |          6) AS sim
            |  FROM cand x JOIN cand y
            |    ON x.query_id = y.query_id AND x.neighbor_id != y.neighbor_id
            |  JOIN cc ca ON ca.vec_id = x.neighbor_id
            |  JOIN cc cb ON cb.vec_id = y.neighbor_id),
            |s0 AS MATERIALIZED (SELECT query_id, neighbor_id,
            |    CAST(0 AS BIGINT) AS sel_order, round(rel, 6) AS mmr
            |  FROM (SELECT query_id, neighbor_id, rel,
            |      row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, neighbor_id) AS rn
            |    FROM cand) z WHERE rn = 1),
            |u0 AS (SELECT * FROM s0)""".stripMargin
        )
        for (i <- 1 until 8) {
          sb.append(
            s""", s$i AS MATERIALIZED (SELECT query_id, neighbor_id,
               |    CAST($i AS BIGINT) AS sel_order, mmr FROM (
               |  SELECT r.query_id, r.neighbor_id,
               |    ${score("r.rel", "p.ms")} AS mmr,
               |    row_number() OVER (PARTITION BY r.query_id
               |      ORDER BY ${score("r.rel", "p.ms")} DESC, r.neighbor_id) AS rn
               |  FROM cand r
               |  LEFT JOIN (SELECT pr.query_id, pr.a, max(pr.sim) AS ms FROM pr
               |      JOIN u${i - 1} u ON pr.query_id = u.query_id AND pr.b = u.neighbor_id
               |      GROUP BY pr.query_id, pr.a) p
               |    ON p.query_id = r.query_id AND p.a = r.neighbor_id
               |  WHERE NOT EXISTS (SELECT 1 FROM u${i - 1} u2
               |    WHERE u2.query_id = r.query_id AND u2.neighbor_id = r.neighbor_id)
               |  ) z WHERE rn = 1)
               |, u$i AS (SELECT * FROM u${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
          )
        }
        sb.append(" SELECT query_id, neighbor_id, sel_order, mmr FROM u7")
        sb.toString.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity.mmrRerank(
        emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
        n = 20, k = 8, lambda = 0.7)
    },

    // Brute-force cosine top-10 for the first 5 vectors (the exact baseline).
    QEntry.sql(
      "ann_topk_bruteforce",
      """SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      round(list_dot_product(q.e, c.e) /
        |            (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6) AS cos
        |    FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |          FROM embeddings WHERE vec_id < 5) q,
        |         (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |          FROM embeddings) c
        |    WHERE c.vec_id != q.vec_id) s) r WHERE rank <= 10"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity
        .bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .withColumn("rank", col("rank").cast("bigint")) // match oracle's BIGINT row_number
    },

    // LSH bucket assignment, verified value-for-value: the twin regenerates
    // the md5-derived hyperplanes and recomputes every 8-bit signature.
    QEntry.sql(
      "ann_lsh_buckets",
      s"WITH ${bucketsSql(bits = 8)} SELECT vec_id, bucket FROM buckets"
    ) { (s, d) =>
      Similarity
        .lshBuckets(embeddings(s, d), "vec_id", "embedding", bits = 8, dim = EmbDim)
        .drop("embedding")
    },

    // LSH-restricted approximate top-k (recall vs brute force asserted in
    // PipelineOpsSpec; here the twin replays bucketing + candidate ranking).
    QEntry.sql(
      "ann_lsh_topk",
      s"""WITH ${bucketsSql(bits = 4)}
         |SELECT query_id, neighbor_id, cos, rank FROM (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      round(list_dot_product(q.e, c.e) /
         |            (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6) AS cos
         |    FROM (SELECT * FROM buckets WHERE vec_id < 5) q
         |    JOIN buckets c ON q.bucket = c.bucket AND c.vec_id != q.vec_id) s) r
         |WHERE rank <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity
        .lshTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          bits = 4, dim = EmbDim)
        .withColumn("rank", col("rank").cast("bigint"))
    },

    // E332 CSLS hubness-corrected retrieval ([[Similarity.cslsTopK]]):
    // csls(q,x) = 2cos − r(q) − r(x) with r = mean cosine to the 10
    // bucket-nearest neighbors — hub vectors that crowd every cosine top-k
    // get demoted by their own neighborhood density (Conneau et al. 2018).
    // Candidate and r(·) pools are the query buckets' members only; the
    // twin replays bucketing, the 9-dp DECIMAL cosine quantization, the
    // DECIMAL-sum r, and the 3-op csls arithmetic.
    QEntry.sql(
      "ann_csls_topk",
      s"""WITH ${bucketsSql(bits = 4)},
         |qb AS (SELECT DISTINCT bucket FROM buckets WHERE vec_id < 5),
         |mem AS (SELECT b.vec_id, b.bucket, b.e FROM buckets b JOIN qb USING (bucket)),
         |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
         |    CAST(round(list_dot_product(a.e, b.e) /
         |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 9)
         |      AS DECIMAL(18,9)) AS cos9
         |  FROM mem a JOIN mem b ON a.bucket = b.bucket AND a.vec_id != b.vec_id),
         |r AS (SELECT ia AS vid,
         |    round(CAST(CAST(sum(cos9) AS DECIMAL(28,9)) AS DOUBLE) / count(*), 6) AS r
         |  FROM (SELECT ia, ib, cos9,
         |      row_number() OVER (PARTITION BY ia ORDER BY cos9 DESC, ib) AS rn FROM p) t
         |  WHERE rn <= 10 GROUP BY ia),
         |sc AS (SELECT p.ia AS query_id, p.ib AS neighbor_id,
         |    round(CAST(p.cos9 AS DOUBLE), 6) AS cos, rq.r AS r_q, rx.r AS r_x,
         |    round(2 * CAST(p.cos9 AS DOUBLE) - rq.r - rx.r, 6) AS csls
         |  FROM p JOIN r rq ON p.ia = rq.vid JOIN r rx ON p.ib = rx.vid
         |  WHERE p.ia < 5)
         |SELECT query_id, neighbor_id, cos, r_q, r_x, csls, rank FROM (
         |  SELECT query_id, neighbor_id, cos, r_q, r_x, csls,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY csls DESC, neighbor_id) AS BIGINT) AS rank
         |  FROM sc) t WHERE rank <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity
        .cslsTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, kR = 10, bits = 4, dim = EmbDim)
        .withColumn("rank", col("rank").cast("bigint"))
    },

    // E420 hard-negative mining ([[Similarity.hardNegatives]]): per query,
    // the top-10 highest-cosine candidates with a DIFFERENT label — the
    // gradient-rich contrastive batch random negatives never supply — under
    // the cos ≤ 0.99 false-negative guard band (a "negative" that close is
    // usually a mislabeled positive). Same bucketed-join scale shape as
    // ann_lsh_topk; the twin replays bucketing, the label inequality, the
    // guard band and the (cos DESC, id) rank.
    QEntry.sql(
      "emb_hard_negatives",
      s"""WITH ${bucketsSql(bits = 4)},
         |lbl AS (SELECT vec_id, label FROM embeddings)
         |SELECT query_id, neg_id, neg_label, cos, rank FROM (
         |  SELECT query_id, neg_id, neg_label, cos,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neg_id)
         |      AS BIGINT) AS rank
         |  FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neg_id, cl.label AS neg_label,
         |      round(list_dot_product(q.e, c.e) /
         |            (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6)
         |        AS cos
         |    FROM (SELECT b.vec_id, b.e, b.bucket, l.label FROM buckets b
         |          JOIN lbl l USING (vec_id) WHERE b.vec_id < 5) q
         |    JOIN buckets c ON q.bucket = c.bucket AND c.vec_id != q.vec_id
         |    JOIN lbl cl ON cl.vec_id = c.vec_id
         |    WHERE cl.label <> q.label) s
         |  WHERE cos <= 0.99) r
         |WHERE rank <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity
        .hardNegatives(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          "label", k = 10, maxCos = 0.99, bits = 4, dim = EmbDim)
        .withColumn("rank", col("rank").cast("bigint"))
    },

    // E415 margin-based bitext pair MINING ([[Similarity.marginMinePairs]];
    // Artetxe & Schwenk 2019, the CCMatrix extraction recipe): the table
    // splits into source (even vec_id) and target (odd) sets; cross-set
    // LSH-bucket candidates score by the distance margin (2·cos − r_fwd −
    // r_bwd, both sides' top-10 neighborhood densities), and a pair is
    // extracted iff each side is the OTHER's margin-argmax — the
    // mutual-best filter that buys precision at corpus scale. Runs under
    // the SCALE-SAFE DEFAULTS (round-16 weak, closed): AutoBits derives
    // the bucket count from n (so candidate volume is linear in corpus,
    // not the fixed-bucket quadratic) and the AutoBucketDf hot-bucket cap
    // bounds the worst skew bucket at 16·⌈n^¼⌉ per side. The twin replays
    // the integer-exact autoBits scan, the cap HAVING filter, bucketing,
    // the DECIMAL cosine ladder, both density means, both argmax windows
    // with their tie-breaks, and the mutual join, so a miner that kept a
    // one-directional best (or broke an argmax tie the other way)
    // hash-mismatches.
    QEntry.sql(
      "emb_margin_mine",
      s"""WITH ${bucketsAutoSql()},
         |p AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
         |    CAST(round(list_dot_product(a.e, b.e) /
         |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 9)
         |      AS DECIMAL(18,9)) AS cos9
         |  FROM (SELECT * FROM buckets WHERE vec_id % 2 = 0) a
         |  JOIN (SELECT * FROM buckets WHERE vec_id % 2 = 1) b
         |    ON a.bucket = b.bucket),
         |rf AS (SELECT ia,
         |    round(CAST(CAST(sum(cos9) AS DECIMAL(28,9)) AS DOUBLE) / count(*), 6) AS r_fwd
         |  FROM (SELECT ia, ib, cos9,
         |      row_number() OVER (PARTITION BY ia ORDER BY cos9 DESC, ib) AS rn FROM p) t
         |  WHERE rn <= 10 GROUP BY ia),
         |rb AS (SELECT ib,
         |    round(CAST(CAST(sum(cos9) AS DECIMAL(28,9)) AS DOUBLE) / count(*), 6) AS r_bwd
         |  FROM (SELECT ia, ib, cos9,
         |      row_number() OVER (PARTITION BY ib ORDER BY cos9 DESC, ia) AS rn FROM p) t
         |  WHERE rn <= 10 GROUP BY ib),
         |sc AS (SELECT p.ia, p.ib, round(CAST(p.cos9 AS DOUBLE), 6) AS cos,
         |    round(2 * CAST(p.cos9 AS DOUBLE) - rf.r_fwd - rb.r_bwd, 6) AS margin
         |  FROM p JOIN rf ON p.ia = rf.ia JOIN rb ON p.ib = rb.ib),
         |fb AS (SELECT ia, ib, cos, margin FROM (
         |    SELECT ia, ib, cos, margin,
         |      row_number() OVER (PARTITION BY ia ORDER BY margin DESC, ib) AS rn
         |    FROM sc) t WHERE rn = 1),
         |bb AS (SELECT ia, ib FROM (
         |    SELECT ia, ib,
         |      row_number() OVER (PARTITION BY ib ORDER BY margin DESC, ia) AS rn
         |    FROM sc) t WHERE rn = 1)
         |SELECT fb.ia AS src_id, fb.ib AS tgt_id, fb.cos, fb.margin
         |FROM fb JOIN bb ON fb.ia = bb.ia AND fb.ib = bb.ib
         |WHERE fb.margin >= 0.0""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Similarity.marginMinePairs(
        embeddings(s, d), "vec_id", "embedding",
        isSrc = col("vec_id") % 2 === 0,
        kR = 10, dim = EmbDim, minMargin = 0.0)
    },

    // E90/E123 persisted-index READ path, oracled: the entry WRITES the
    // LSH index (bucket-partitioned parquet) and answers the fixed query
    // set FROM it — candidate fetch via partition-pruned bucket join over
    // persisted codes, never the in-memory corpus. The twin recomputes the
    // same bucketing + ranking directly; index≡direct equality is also
    // pinned in PipelineOpsSpec, so this entry closes the loop by hashing
    // the on-disk read path itself.
    QEntry.sql(
      "ann_lsh_index_fetch",
      s"""WITH ${bucketsSql(bits = 4)}
         |SELECT query_id, neighbor_id, cos, rank FROM (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      round(list_dot_product(q.e, c.e) /
         |            (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6) AS cos
         |    FROM (SELECT * FROM buckets WHERE vec_id < 5) q
         |    JOIN buckets c ON q.bucket = c.bucket AND c.vec_id != q.vec_id) s) r
         |WHERE rank <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      val dir = SharedBuild.dir(s, d, "lshidx") { root =>
        Similarity.buildLshIndex(emb, "vec_id", "embedding", s"$root/lsh",
          bits = 4, dim = EmbDim)
      } + "/lsh"
      Similarity
        .lshTopKFromIndex(emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          dir, bits = 4, dim = EmbDim)
        .withColumn("rank", col("rank").cast("bigint"))
    },

    // E277 multi-probe LSH top-k (Lv et al. 2007): each query probes its
    // own bucket plus the two reached by flipping its smallest-|margin|
    // hyperplane bits — recall rises without a second hash table and the
    // corpus/index side is untouched. The twin regenerates the planes,
    // recomputes every per-plane dot (bit-identical in-order double sums),
    // ranks margins with the same (|dot|, plane) tiebreak, performs the
    // same one-bit string surgery, and ranks candidates across the probe
    // union.
    QEntry.sql(
      "ann_multiprobe_topk",
      s"""WITH ${bucketsSql(bits = 4)},
         |qd AS (SELECT vec_id, e, p, list_dot_product(e, w) AS dd
         |       FROM vecs, planes WHERE vec_id < 5),
         |qbase AS (SELECT vec_id, e,
         |    string_agg(CASE WHEN dd >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
         |  FROM qd GROUP BY vec_id, e),
         |qflip AS (SELECT vec_id, p,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY abs(dd), p) AS rk FROM qd),
         |probes AS (
         |  SELECT vec_id, e, bucket FROM qbase
         |  UNION ALL
         |  SELECT b.vec_id, b.e,
         |    substr(b.bucket, 1, CAST(f.p AS INT)) ||
         |    (CASE WHEN substr(b.bucket, CAST(f.p AS INT) + 1, 1) = '1'
         |          THEN '0' ELSE '1' END) ||
         |    substr(b.bucket, CAST(f.p AS INT) + 2) AS bucket
         |  FROM qbase b JOIN qflip f ON b.vec_id = f.vec_id AND f.rk <= 2)
         |SELECT query_id, neighbor_id, cos, rank FROM (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM (
         |    SELECT pr.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      round(list_dot_product(pr.e, c.e) /
         |            (sqrt(list_dot_product(pr.e, pr.e)) * sqrt(list_dot_product(c.e, c.e))), 6) AS cos
         |    FROM probes pr JOIN buckets c ON pr.bucket = c.bucket AND c.vec_id != pr.vec_id) s) r
         |WHERE rank <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity
        .lshMultiProbeTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          bits = 4, nProbe = 3, dim = EmbDim)
        .withColumn("rank", col("rank").cast("bigint"))
    },

    // E279 multi-probe recall/cost sweep — the operating-curve read an
    // operator tunes nProbe from (the multi-probe sibling of
    // ann_ivf_probe_sweep): recall@10 vs brute-force truth at nProbe ∈
    // {1,2,4}, exact integer ppm. The twin parameterizes its probe CTE by
    // the same margin-rank cutoff.
    QEntry.sql(
      "ann_multiprobe_sweep", {
        def sweep(np: Int) =
          s"""SELECT $np AS nprobe, CAST(count(*) AS BIGINT) AS hits FROM (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
             |    FROM (
             |      SELECT pr.vec_id AS query_id, c.vec_id AS neighbor_id,
             |        round(list_dot_product(pr.e, c.e) /
             |              (sqrt(list_dot_product(pr.e, pr.e)) * sqrt(list_dot_product(c.e, c.e))), 6) AS cos
             |      FROM (SELECT vec_id, e, bucket FROM qbase
             |            UNION ALL
             |            SELECT b.vec_id, b.e,
             |              substr(b.bucket, 1, CAST(f.p AS INT)) ||
             |              (CASE WHEN substr(b.bucket, CAST(f.p AS INT) + 1, 1) = '1'
             |                    THEN '0' ELSE '1' END) ||
             |              substr(b.bucket, CAST(f.p AS INT) + 2) AS bucket
             |            FROM qbase b JOIN qflip f
             |              ON b.vec_id = f.vec_id AND f.rk <= ${np - 1}) pr
             |      JOIN buckets c ON pr.bucket = c.bucket AND c.vec_id != pr.vec_id) s) r
             |  WHERE rank <= 10) ap
             |JOIN bf ON ap.query_id = bf.query_id AND ap.neighbor_id = bf.neighbor_id"""
        s"""WITH ${bucketsSql(bits = 4)},
           |qd AS (SELECT vec_id, e, p, list_dot_product(e, w) AS dd
           |       FROM vecs, planes WHERE vec_id < 5),
           |qbase AS (SELECT vec_id, e,
           |    string_agg(CASE WHEN dd >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
           |  FROM qd GROUP BY vec_id, e),
           |qflip AS (SELECT vec_id, p,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY abs(dd), p) AS rk FROM qd),
           |bf AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |      round(list_dot_product(q.e, c.e) /
           |            (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6)
           |        AS cos
           |    FROM (SELECT * FROM vecs WHERE vec_id < 5) q, vecs c
           |    WHERE c.vec_id != q.vec_id) s) r WHERE rank <= 10),
           |sw AS (${sweep(1)} UNION ALL ${sweep(2)} UNION ALL ${sweep(4)})
           |SELECT nprobe, hits,
           |  CAST(hits * 1000000 // 50 AS BIGINT) AS recall_ppm
           |FROM sw""".stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val emb = embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
      val bf = Similarity
        .bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
      def sweep(np: Int) =
        Similarity
          .lshMultiProbeTopK(emb, queries, "vec_id", "embedding", 10,
            bits = 4, nProbe = np, dim = EmbDim)
          .select("query_id", "neighbor_id")
          .join(bf, Seq("query_id", "neighbor_id"))
          .agg(
            lit(np.toLong).as("nprobe"),
            count(lit(1)).cast("long").as("hits")
          )
      sweep(1)
        .unionAll(sweep(2))
        .unionAll(sweep(4))
        .withColumn("recall_ppm", expr("hits * 1000000L div 50").cast("long"))
    },

    // E286 multi-probe against the PERSISTED index: each query's nProbe
    // bucket keys name partition directories of the buildLshIndex layout,
    // so the candidate fetch is a partition-pruned read of nProbe dirs per
    // query — multi-probe recall at single-probe I/O shape. Same twin as
    // the in-memory path (identical results through the on-disk read is
    // the point; also pinned index≡direct in PipelineOpsSpec).
    QEntry.sql(
      "ann_multiprobe_index",
      s"""WITH ${bucketsSql(bits = 4)},
         |qd AS (SELECT vec_id, e, p, list_dot_product(e, w) AS dd
         |       FROM vecs, planes WHERE vec_id < 5),
         |qbase AS (SELECT vec_id, e,
         |    string_agg(CASE WHEN dd >= 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
         |  FROM qd GROUP BY vec_id, e),
         |qflip AS (SELECT vec_id, p,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY abs(dd), p) AS rk FROM qd),
         |probes AS (
         |  SELECT vec_id, e, bucket FROM qbase
         |  UNION ALL
         |  SELECT b.vec_id, b.e,
         |    substr(b.bucket, 1, CAST(f.p AS INT)) ||
         |    (CASE WHEN substr(b.bucket, CAST(f.p AS INT) + 1, 1) = '1'
         |          THEN '0' ELSE '1' END) ||
         |    substr(b.bucket, CAST(f.p AS INT) + 2) AS bucket
         |  FROM qbase b JOIN qflip f ON b.vec_id = f.vec_id AND f.rk <= 2)
         |SELECT query_id, neighbor_id, cos, rank FROM (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM (
         |    SELECT pr.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      round(list_dot_product(pr.e, c.e) /
         |            (sqrt(list_dot_product(pr.e, pr.e)) * sqrt(list_dot_product(c.e, c.e))), 6) AS cos
         |    FROM probes pr JOIN buckets c ON pr.bucket = c.bucket AND c.vec_id != pr.vec_id) s) r
         |WHERE rank <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      val dir = SharedBuild.dir(s, d, "lshidx") { root =>
        Similarity.buildLshIndex(emb, "vec_id", "embedding", s"$root/lsh",
          bits = 4, dim = EmbDim)
      } + "/lsh"
      Similarity
        .lshMultiProbeTopKFromIndex(emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10,
          dir, bits = 4, nProbe = 3, dim = EmbDim)
        .withColumn("rank", col("rank").cast("bigint"))
    },

    // IVF coarse-quantizer approximate top-k — the inverted-list ANN scale
    // path. Stride centroids are deterministic, so the twin replays the whole
    // assign → probe → rank pipeline (cell argmax on unrounded cosine, exact
    // ranking inside probed cells).
    QEntry.sql(
      "ann_ivf_topk",
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |             FROM embeddings),
        |cents AS (SELECT vec_id AS cell, e AS ce FROM vecs WHERE vec_id % 37 = 0),
        |assign AS (
        |  SELECT vec_id, e, cell, cr FROM (
        |    SELECT v.vec_id, v.e, c.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_dot_product(v.e, c.ce) /
        |        (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.ce, c.ce))) DESC,
        |        c.cell) AS cr
        |    FROM vecs v, cents c) t)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM (
        |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |      round(list_dot_product(q.e, n.e) /
        |            (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(n.e, n.e))), 6) AS cos
        |    FROM (SELECT * FROM assign WHERE vec_id < 5 AND cr <= 3) q
        |    JOIN (SELECT * FROM assign WHERE cr <= 1) n
        |    ON q.cell = n.cell AND n.vec_id != q.vec_id) s) r
        |WHERE rank <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity
        .ivfTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .withColumn("rank", col("rank").cast("bigint"))
    },

    // E297 persisted IVF index with FROZEN-centroid ingest: the coarse
    // quantizer is fixed at build time (stride over the EVEN vectors), the
    // odd vectors append later assigned against those frozen centroids —
    // no corpus re-assignment, the between-retrains ingest semantics every
    // IVF serving system uses — and queries answer from the on-disk cells
    // with the probe set statically pruning the partition read. The twin
    // assigns ALL vectors against the even-only centroid set and replays
    // probe → rank.
    QEntry.sql(
      "ann_ivf_index_fetch",
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |             FROM embeddings),
        |cents AS (SELECT vec_id AS cell, e AS ce FROM vecs
        |          WHERE vec_id % 37 = 0 AND vec_id % 2 = 0),
        |assign AS (
        |  SELECT vec_id, e, cell, cr FROM (
        |    SELECT v.vec_id, v.e, c.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_dot_product(v.e, c.ce) /
        |        (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.ce, c.ce))) DESC,
        |        c.cell) AS cr
        |    FROM vecs v, cents c) t)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM (
        |    SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
        |      round(list_dot_product(q.e, n.e) /
        |            (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(n.e, n.e))), 6) AS cos
        |    FROM (SELECT * FROM assign WHERE vec_id < 5 AND cr <= 3) q
        |    JOIN (SELECT * FROM assign WHERE cr <= 1) n
        |    ON q.cell = n.cell AND n.vec_id != q.vec_id) s) r
        |WHERE rank <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      val dir = SharedBuild.dir(s, d, "ivfidx") { root =>
        val ivf = s"$root/ivf"
        Similarity.buildIvfIndex(emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", ivf)
        Similarity.appendIvfIndex(emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", ivf, 1L)
      } + "/ivf"
      Similarity
        .ivfTopKFromIndex(emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, dir,
          nProbe = 3)
        .withColumn("rank", col("rank").cast("bigint"))
    },

    // IVF probe sweep: aggregate recall@10 vs brute force at nProbe ∈
    // {1, 2, 4} — the accuracy-vs-cost tuning curve an IVF deployment is
    // configured from (more probes = more cells scanned per query), the
    // measured companion of dedup_lsh_curve's analytic S-curve. Hits are
    // exact pair-set joins; recall one integral division.
    QEntry.sql(
      "ann_ivf_probe_sweep", {
        def sweep(np: Int) =
          s"""SELECT $np AS nprobe, CAST(count(*) AS BIGINT) AS hits FROM (
             |  SELECT query_id, neighbor_id FROM (
             |    SELECT query_id, neighbor_id,
             |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
             |    FROM (
             |      SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
             |        round(list_dot_product(q.e, n.e) /
             |              (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(n.e, n.e))), 6) AS cos
             |      FROM (SELECT * FROM assign WHERE vec_id < 5 AND cr <= $np) q
             |      JOIN (SELECT * FROM assign WHERE cr <= 1) n
             |      ON q.cell = n.cell AND n.vec_id != q.vec_id) s) r
             |  WHERE rank <= 10) ap
             |JOIN bf ON ap.query_id = bf.query_id AND ap.neighbor_id = bf.neighbor_id"""
        s"""WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
           |             FROM embeddings),
           |cents AS (SELECT vec_id AS cell, e AS ce FROM vecs WHERE vec_id % 37 = 0),
           |assign AS (
           |  SELECT vec_id, e, cell, cr FROM (
           |    SELECT v.vec_id, v.e, c.cell,
           |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
           |        list_dot_product(v.e, c.ce) /
           |        (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.ce, c.ce))) DESC,
           |        c.cell) AS cr
           |    FROM vecs v, cents c) t),
           |bf AS (SELECT query_id, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
           |  FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |      round(list_dot_product(q.e, c.e) /
           |            (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6)
           |        AS cos
           |    FROM (SELECT * FROM vecs WHERE vec_id < 5) q, vecs c
           |    WHERE c.vec_id != q.vec_id) s) r WHERE rank <= 10),
           |sw AS (${sweep(1)} UNION ALL ${sweep(2)} UNION ALL ${sweep(4)})
           |SELECT nprobe, hits,
           |  CAST(hits * 1000000 // 50 AS BIGINT) AS recall_ppm
           |FROM sw""".stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val emb = embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
      val bf = Similarity
        .bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
      def sweep(np: Int) =
        Similarity
          .ivfTopK(emb, queries, "vec_id", "embedding", 10, nProbe = np)
          .select("query_id", "neighbor_id")
          .join(bf, Seq("query_id", "neighbor_id"))
          .agg(
            lit(np.toLong).as("nprobe"),
            count(lit(1)).cast("long").as("hits")
          )
      sweep(1)
        .unionAll(sweep(2))
        .unionAll(sweep(4))
        .withColumn("recall_ppm", expr("hits * 1000000L div 50").cast("long"))
    },

    // Deterministic hash sampling: reproducible across engines, runs, and
    // partitionings (rand()/sample() are none of those). hashpos = first 8
    // md5 hex digits of the key as a fraction of 16^8.
    QEntry.sql(
      "sample_split_counts",
      """SELECT event_type, split, count(*) AS cnt FROM (
        |  SELECT event_type,
        |    CASE WHEN CAST(list_sum(list_transform(range(1, 9), i ->
        |           (strpos('0123456789abcdef',
        |                   substr(md5(CAST(event_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
        |           * pow(16, 8 - i))) AS DOUBLE) / 4294967296.0 < 0.2
        |         THEN 'test' ELSE 'train' END AS split
        |  FROM events) t GROUP BY event_type, split"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      events(s, d)
        .withColumn("split", Sampling.splitTag(col("event_id"), 0.2))
        .groupBy("event_type", "split")
        .agg(count(lit(1)).as("cnt"))
    },

    // E344 exact source-pair shingle-overlap matrix
    // ([[Dedup.sourceOverlapMatrix]]): every source pair's distinct-3-shingle
    // sizes, intersection, and integer-ppm Jaccard, zeros included — the
    // "is source B just source A relabeled?" read run before two feeds are
    // mixed into one blend. Distinct (source, shingle) partial agg, a
    // shingle-keyed self-join whose fan-out is bounded by the source count,
    // groups²-sized assembly on a broadcast grid.
    QEntry.sql(
      "dedup_source_overlap",
      s"""WITH gs AS (
         |  SELECT DISTINCT source AS g, sh FROM
         |    (SELECT source, unnest($shinglesSql) AS sh
         |     FROM (SELECT source, $wordsSql AS words FROM documents) w) x),
         |sizes AS (SELECT d.g, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
         |          FROM (SELECT DISTINCT source AS g FROM documents) d
         |          LEFT JOIN (SELECT g, count(*) AS n FROM gs GROUP BY g) c
         |          ON d.g = c.g),
         |inter AS (SELECT a.g AS g1, b.g AS g2, CAST(count(*) AS BIGINT) AS i
         |          FROM gs a JOIN gs b ON a.sh = b.sh AND a.g < b.g GROUP BY 1, 2)
         |SELECT s1.g AS src1, s2.g AS src2, s1.n AS n1, s2.n AS n2,
         |  COALESCE(i.i, 0) AS n_shared,
         |  CAST(CASE WHEN s1.n + s2.n - COALESCE(i.i, 0) = 0 THEN 0
         |       ELSE COALESCE(i.i, 0) * 1000000 // (s1.n + s2.n - COALESCE(i.i, 0))
         |       END AS BIGINT) AS jaccard_ppm
         |FROM sizes s1 JOIN sizes s2 ON s1.g < s2.g
         |LEFT JOIN inter i ON i.g1 = s1.g AND i.g2 = s2.g"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Dedup.sourceOverlapMatrix(documents(s, d), "source", "text")
    },

    // E341 leakage-safe cluster-level split ([[Sampling.clusterSafeSplitReport]]):
    // train/test assigned by hashing the NEAR-DUP CLUSTER id, with the leak a
    // per-doc hash split would have caused measured alongside. Planted
    // duplicates (every 20th doc re-ingested under a shifted id) make the
    // clusters real: each (d, d+1000000) pair must land on ONE side, while
    // doc-level hashing straddles ~2·f·(1−f) of them — the nonzero
    // naive_leaky_docs this entry exists to surface. The twin replays
    // band → CC fixpoint → both hash splits over the same union corpus.
    QEntry.sql(
      "sample_cluster_split", {
        def hp(x: String) =
          s"""CAST(list_sum(list_transform(range(1, 9), i ->
             |  (strpos('0123456789abcdef',
             |          substr(md5(CAST($x AS VARCHAR)), CAST(i AS INT), 1)) - 1)
             |  * pow(16, 8 - i))) AS DOUBLE) / 4294967296.0""".stripMargin
        val bands = bandsSqlOver("corpus")
        s"""WITH RECURSIVE corpus AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 20 = 0),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
           |  FROM ($bands) a JOIN ($bands) b
           |  ON a.band = b.band AND a.doc_id < b.doc_id),
           |edges AS (SELECT id1 AS s, id2 AS d FROM pairs
           |          UNION ALL SELECT id2, id1 FROM pairs),
           |cc(id, comp) AS (
           |  SELECT doc_id, doc_id FROM corpus
           |  UNION
           |  SELECT e.s, c.comp FROM edges e JOIN cc c ON e.d = c.id),
           |docs2 AS (SELECT id, min(comp) AS cl FROM cc GROUP BY id),
           |tagged AS (SELECT id, cl,
           |    CASE WHEN ${hp("cl")} < 0.2 THEN 'test' ELSE 'train' END AS split,
           |    CASE WHEN ${hp("id")} < 0.2 THEN 'test' ELSE 'train' END AS naive
           |  FROM docs2),
           |straddle AS (SELECT cl, count(DISTINCT naive) AS ns
           |             FROM tagged GROUP BY cl)
           |SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(count(DISTINCT t.cl) AS BIGINT) AS n_clusters,
           |  CAST(count(*) * 1000000 // (SELECT count(*) FROM docs2) AS BIGINT)
           |    AS docs_ppm,
           |  CAST(sum(CASE WHEN s.ns > 1 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS naive_leaky_docs
           |FROM tagged t JOIN straddle s ON t.cl = s.cl GROUP BY split"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val docs = documents(s, d)
      val corpus = docs
        .select(col("doc_id"), col("text"))
        .unionAll(
          docs
            .filter(col("doc_id") % 20 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
        )
      val clusters = Dedup
        .dedupClusters(corpus, "doc_id", "text")
        .select(col("doc_id"), col("cluster_id"))
      Sampling.clusterSafeSplitReport(clusters, "doc_id", "cluster_id", 0.2)
    },

    // Incremental-ingest dedup: new documents (odd ids) kept only if their
    // content hash is absent from the existing corpus (even ids) — the
    // anti-join shape every continuous ingestion pipeline runs per batch
    // (hash the small new side, anti-join against the big corpus's hashes;
    // at scale the corpus side is a pre-built hash table/bloom, the join
    // key is the digest either way).
    QEntry.sql(
      "dedup_incremental",
      """SELECT n.doc_id FROM (SELECT doc_id, md5(text) AS h FROM documents
        |                      WHERE doc_id % 2 = 1) n
        |WHERE NOT EXISTS (SELECT 1 FROM (SELECT md5(text) AS h FROM documents
        |                                 WHERE doc_id % 2 = 0) e
        |                  WHERE e.h = n.h)""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val docs = documents(s, d)
      val newDocs = docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), md5(col("text")).as("h"))
      val existing = docs.filter(col("doc_id") % 2 === 0)
        .select(md5(col("text")).as("h"))
      newDocs.join(existing, Seq("h"), "left_anti").select("doc_id")
    },

    // E257 incremental NEAR-dup dedup: a synthetic daily batch (every 100th
    // document re-ingested under a shifted id — guaranteed planted
    // duplicates with identical MinHash signatures) paired against the
    // PERSISTED band index of the full corpus, plus batch-internal pairs —
    // without re-signing or re-joining corpus text. The twin replays
    // sign → band → join over corpus ∪ batch restricted to batch-touching
    // pairs; every planted (d, d+1000000) pair must surface, so the oracle
    // has real rows even though the natural corpus's LSH candidate set is
    // empty at this banding threshold.
    QEntry.sql(
      "dedup_incremental_near", {
        val corpusBands = bandsSqlOver("documents")
        val batchBands = bandsSqlOver(
          "(SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 100 = 0)")
        s"""WITH cb AS ($corpusBands),
           |bb AS ($batchBands),
           |ab AS (SELECT * FROM cb UNION ALL SELECT * FROM bb)
           |SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
           |  greatest(a.doc_id, b.doc_id) AS id2
           |FROM bb a JOIN ab b ON a.band = b.band AND a.doc_id != b.doc_id"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val docs = documents(s, d)
      val dir = SharedBuild.dir(s, d, "mhidx") { root =>
        Dedup.buildMinhashIndex(docs, "doc_id", "text", s"$root/idx")
      } + "/idx"
      val batch = docs
        .filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.incrementalNearDupPairs(batch, "doc_id", "text", dir)
    },

    // E271 right-to-be-forgotten flow: build the band index, DELETE every
    // (doc_id % 4 = 1) document from it, then ingest a batch re-sending all
    // odd docs — the batch pairs ONLY with the surviving (% 4 = 3)
    // originals, proving the deleted content can no longer be matched
    // against (re-pairing future ingests with taken-down content would
    // re-disclose it). The twin replays sign → band → join over the
    // POST-DELETION corpus ∪ batch.
    QEntry.sql(
      "dedup_forget_flow", {
        val corpusBands = bandsSqlOver("(SELECT doc_id, text FROM documents WHERE doc_id % 4 != 1)")
        val batchBands = bandsSqlOver(
          "(SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 2 = 1)")
        s"""WITH cb AS ($corpusBands),
           |bb AS ($batchBands),
           |ab AS (SELECT * FROM cb UNION ALL SELECT * FROM bb)
           |SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
           |  greatest(a.doc_id, b.doc_id) AS id2
           |FROM bb a JOIN ab b ON a.band = b.band AND a.doc_id != b.doc_id"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val docs = documents(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-forget").resolve("idx").toString
      Dedup.buildMinhashIndex(docs, "doc_id", "text", dir)
      Dedup.deleteFromMinhashIndex(
        s, docs.filter(col("doc_id") % 4 === 1).select(col("doc_id").as("id")), dir)
      val batch = docs
        .filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.incrementalNearDupPairs(batch, "doc_id", "text", dir)
    },

    // E273 incremental CLUSTER maintenance: the corpus (documents plus a
    // re-ingested %100 slice — so the persisted state holds real 2-doc
    // clusters, not just singletons) is clustered ONCE and persisted; a new
    // batch (a %200 slice under fresh ids) is then folded in by contracting
    // its incremental pairs to cluster labels and running connected
    // components on that label graph only — per-ingest text work O(batch),
    // never a corpus re-sign or re-cluster. The twin recomputes
    // dedupClusters over corpus ∪ batch MONOLITHICALLY, so the hash match
    // IS the contraction-equivalence proof (each %200 doc must land in a
    // 3-generation cluster {d, d+1M, d+2M} with cluster_id d).
    QEntry.sql(
      "dedup_incremental_clusters", {
        val unionRel =
          """(SELECT doc_id, text FROM documents
            | UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents
            |   WHERE doc_id % 100 = 0
            | UNION ALL SELECT doc_id + 2000000 AS doc_id, text FROM documents
            |   WHERE doc_id % 200 = 0)""".stripMargin.replaceAll("\\s+", " ")
        s"""WITH RECURSIVE ab AS (${bandsSqlOver(unionRel)}),
           |pairs AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
           |    greatest(a.doc_id, b.doc_id) AS id2
           |  FROM ab a JOIN ab b ON a.band = b.band AND a.doc_id != b.doc_id),
           |edges AS (SELECT id1 AS s, id2 AS d FROM pairs
           |          UNION ALL SELECT id2, id1 FROM pairs),
           |cc(id, comp) AS (
           |  SELECT doc_id, doc_id FROM $unionRel u
           |  UNION
           |  SELECT e.s, c.comp FROM edges e JOIN cc c ON e.d = c.id)
           |SELECT id AS doc_id, min(comp) AS cluster_id,
           |       count(*) OVER (PARTITION BY min(comp)) AS cluster_size
           |FROM cc GROUP BY id""".stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val docs = documents(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-incclu").toString
      val corpus = docs
        .select(col("doc_id"), col("text"))
        .unionByName(
          docs.filter(col("doc_id") % 100 === 0)
            .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.buildMinhashIndex(corpus, "doc_id", "text", s"$dir/idx")
      // state bootstrap from the index just written — no second signing pass
      Dedup.writeClusterState(
        Dedup.clustersFromMinhashIndex(s, s"$dir/idx"),
        "id", "cluster_id", s"$dir/state")
      val batch = docs
        .filter(col("doc_id") % 200 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      Dedup
        .incrementalClusters(batch, "doc_id", "text", s"$dir/idx", s"$dir/state")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .withColumn(
          "cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id")))
        )
    },

    // E288 per-INGEST disposition — the accept/reject surface a daily
    // ingest actually acts on, composed from the maintained state: each
    // batch doc is 'dup' when an earlier doc (corpus or batch sibling)
    // owns its incremental cluster (cluster_id < own id ⇔ cluster_id ≠
    // own id under min-label canonicalization), else gated on the
    // oracle-agreed rounded quality of ITS OWN text — O(batch) text work
    // end to end, state seeded from the index. Batch mixes verbatim
    // re-sends (all 'dup') with novel reversed docs (kept / low_quality by
    // the gate). Twin: the incremental-clusters replay restricted to batch
    // rows, joined with the quality CASE.
    QEntry.sql(
      "pipe_incremental_disposition", {
        val qualSql = TextQueries.qualityExprSql
        val batchRel =
          """(SELECT doc_id + 2000000 AS doc_id, text FROM documents
            |   WHERE doc_id % 200 = 0
            | UNION ALL SELECT doc_id + 3000000 AS doc_id, reverse(text) AS text
            |   FROM documents WHERE doc_id % 137 = 0)""".stripMargin.replaceAll("\\s+", " ")
        val unionRel =
          s"""(SELECT doc_id, text FROM documents
             | UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents
             |   WHERE doc_id % 100 = 0
             | UNION ALL SELECT doc_id, text FROM $batchRel b)"""
            .stripMargin.replaceAll("\\s+", " ")
        s"""WITH RECURSIVE ab AS (${bandsSqlOver(unionRel)}),
           |pairs AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
           |    greatest(a.doc_id, b.doc_id) AS id2
           |  FROM ab a JOIN ab b ON a.band = b.band AND a.doc_id != b.doc_id),
           |edges AS (SELECT id1 AS s, id2 AS d FROM pairs
           |          UNION ALL SELECT id2, id1 FROM pairs),
           |cc(id, comp) AS (
           |  SELECT doc_id, doc_id FROM $unionRel u
           |  UNION
           |  SELECT e.s, c.comp FROM edges e JOIN cc c ON e.d = c.id),
           |docs2 AS (SELECT id, min(comp) AS cluster_id FROM cc GROUP BY id),
           |bq AS (SELECT doc_id, $qualSql AS quality FROM $batchRel bb)
           |SELECT b.doc_id, d.cluster_id, b.quality,
           |  CASE WHEN d.cluster_id != b.doc_id THEN 'dup'
           |       WHEN b.quality < 0.6 THEN 'low_quality'
           |       ELSE 'kept' END AS disposition
           |FROM bq b JOIN docs2 d ON d.id = b.doc_id"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val docs = documents(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-incdisp").toString
      val corpus = docs
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.buildMinhashIndex(corpus, "doc_id", "text", s"$dir/idx")
      Dedup.writeClusterState(
        Dedup.clustersFromMinhashIndex(s, s"$dir/idx"),
        "id", "cluster_id", s"$dir/state")
      val batch = docs
        .filter(col("doc_id") % 200 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 137 === 0)
          .select((col("doc_id") + 3000000L).as("doc_id"), reverse(col("text")).as("text")))
      val assign = Dedup
        .incrementalClusters(batch, "doc_id", "text", s"$dir/idx", s"$dir/state")
        .select(col("id").as("doc_id"), col("cluster_id"))
      batch
        .select(col("doc_id"), TextAnalysis.qualityScore(col("text")).as("quality"))
        .join(assign, "doc_id")
        .select(
          col("doc_id"),
          col("cluster_id"),
          col("quality"),
          when(col("cluster_id") =!= col("doc_id"), "dup")
            .when(col("quality") < 0.6, "low_quality")
            .otherwise("kept")
            .as("disposition")
        )
    },

    // E294 cluster-state audit diff: one ingest and one takedown later,
    // the delta-sized "what changed" read over two persisted state
    // snapshots — batch arrivals ('added'), forgotten docs ('removed'),
    // and survivors whose canonical label moved because the deletion
    // retired their cluster's minimum ('relabeled'); unchanged rows (the
    // corpus bulk) never appear. The twin replays BOTH monolithic
    // clusterings (before: corpus; after: post-churn universe) and diffs
    // them, so the hash match pins the incremental build→ingest→delete→
    // repair pipeline's net effect row for row.
    QEntry.sql(
      "dedup_state_diff", {
        val rel0 =
          """(SELECT doc_id, text FROM documents
            | UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents
            |   WHERE doc_id % 100 = 0)""".stripMargin.replaceAll("\\s+", " ")
        val rel2 =
          """(SELECT doc_id, text FROM documents WHERE doc_id % 200 != 0
            | UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents
            |   WHERE doc_id % 100 = 0
            | UNION ALL SELECT doc_id + 2000000 AS doc_id, text FROM documents
            |   WHERE doc_id % 200 = 0)""".stripMargin.replaceAll("\\s+", " ")
        s"""WITH RECURSIVE ab0 AS (${bandsSqlOver(rel0)}),
           |pairs0 AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
           |    greatest(a.doc_id, b.doc_id) AS id2
           |  FROM ab0 a JOIN ab0 b ON a.band = b.band AND a.doc_id != b.doc_id),
           |edges0 AS (SELECT id1 AS se0, id2 AS de0 FROM pairs0
           |           UNION ALL SELECT id2, id1 FROM pairs0),
           |cc0(id, comp) AS (
           |  SELECT doc_id, doc_id FROM $rel0 u0
           |  UNION
           |  SELECT e.se0, c.comp FROM edges0 e JOIN cc0 c ON e.de0 = c.id),
           |s0 AS (SELECT id, min(comp) AS cl FROM cc0 GROUP BY id),
           |ab2 AS (${bandsSqlOver(rel2)}),
           |pairs2 AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
           |    greatest(a.doc_id, b.doc_id) AS id2
           |  FROM ab2 a JOIN ab2 b ON a.band = b.band AND a.doc_id != b.doc_id),
           |edges2 AS (SELECT id1 AS se2, id2 AS de2 FROM pairs2
           |           UNION ALL SELECT id2, id1 FROM pairs2),
           |cc2(id, comp) AS (
           |  SELECT doc_id, doc_id FROM $rel2 u2
           |  UNION
           |  SELECT e.se2, c.comp FROM edges2 e JOIN cc2 c ON e.de2 = c.id),
           |s2 AS (SELECT id, min(comp) AS cl FROM cc2 GROUP BY id)
           |SELECT COALESCE(s0.id, s2.id) AS id,
           |  CAST(COALESCE(s0.cl, -1) AS BIGINT) AS old_cluster_id,
           |  CAST(COALESCE(s2.cl, -1) AS BIGINT) AS new_cluster_id,
           |  CASE WHEN s0.id IS NULL THEN 'added'
           |       WHEN s2.id IS NULL THEN 'removed'
           |       ELSE 'relabeled' END AS change
           |FROM s0 FULL OUTER JOIN s2 ON s0.id = s2.id
           |WHERE s0.id IS NULL OR s2.id IS NULL OR s0.cl != s2.cl"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val docs = documents(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sdiff").toString
      val corpus = docs
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      Dedup.buildMinhashIndex(corpus, "doc_id", "text", s"$dir/idx")
      Dedup.writeClusterState(
        Dedup.clustersFromMinhashIndex(s, s"$dir/idx"), "id", "cluster_id", s"$dir/s0")
      val batch = docs
        .filter(col("doc_id") % 200 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      Dedup.appendMinhashIndex(batch, "doc_id", "text", s"$dir/idx", 1L)
      Dedup.writeClusterState(
        Dedup.incrementalClusters(batch, "doc_id", "text", s"$dir/idx", s"$dir/s0")
          .localCheckpoint(),
        "id", "cluster_id", s"$dir/s1")
      val deleted = docs.filter(col("doc_id") % 200 === 0).select(col("doc_id").as("id"))
      Dedup.deleteFromMinhashIndex(s, deleted, s"$dir/idx")
      Dedup.writeClusterState(
        Dedup.repairClusterState(s, deleted, s"$dir/idx", s"$dir/s1")
          .localCheckpoint(),
        "id", "cluster_id", s"$dir/s2")
      Dedup.clusterStateDiff(s, s"$dir/s0", s"$dir/s2")
    },

    // E274 near-dup DECONTAMINATION against the persisted band index: the
    // benchmark set (an eval slice re-sent under fresh ids — every 50th
    // document verbatim, the test-set-leaked-into-train case) is signed
    // once — O(bench), the only text pass — and its band keys broadcast
    // against the corpus's already-persisted index, so the 100 TB training
    // side is never re-read as text and never shuffled. Output is the
    // contaminated corpus ids with the count of distinct benchmark docs
    // each matched; the twin replays both sides' banding and the join.
    QEntry.sql(
      "dedup_decontam_near", {
        val cb = bandsSqlOver("documents")
        val bb = bandsSqlOver(
          "(SELECT doc_id + 5000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0)")
        s"""WITH cb AS ($cb), bb AS ($bb)
           |SELECT cb.doc_id AS id,
           |  CAST(count(DISTINCT bb.doc_id) AS BIGINT) AS n_bench_matches
           |FROM cb JOIN bb ON cb.band = bb.band GROUP BY cb.doc_id"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val docs = documents(s, d)
      val dir = SharedBuild.dir(s, d, "mhidx") { root =>
        Dedup.buildMinhashIndex(docs, "doc_id", "text", s"$root/idx")
      } + "/idx"
      val bench = docs
        .filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
      Dedup
        .decontaminateByIndex(bench, "doc_id", "text", dir)
        .select(col("id"), col("n_bench_matches").cast("long").as("n_bench_matches"))
    },

    // E276 index compaction: three replay-idempotent ingests (build + two
    // appends — each its own ingest_id partition, the small-file price of
    // idempotence) are rewritten into the single initial-build layout, then
    // a final batch pairs against the COMPACTED index. The twin replays the
    // monolithic sign → band → join over all ingested docs ∪ batch, so the
    // hash match pins compaction as lossless; the file/dir-count drop is
    // pinned in PipelineOpsSpec.
    QEntry.sql(
      "dedup_index_compact", {
        val corpusBands = bandsSqlOver("documents")
        val batchBands = bandsSqlOver(
          "(SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 100 = 50)")
        s"""WITH cb AS ($corpusBands),
           |bb AS ($batchBands),
           |ab AS (SELECT * FROM cb UNION ALL SELECT * FROM bb)
           |SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
           |  greatest(a.doc_id, b.doc_id) AS id2
           |FROM bb a JOIN ab b ON a.band = b.band AND a.doc_id != b.doc_id"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val docs = documents(s, d)
      val dir = SharedBuild.dir(s, d, "compidx") { root =>
        val idx = s"$root/idx"
        Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx)
        Dedup.appendMinhashIndex(docs.filter(col("doc_id") % 4 === 1), "doc_id", "text", idx, 1L)
        Dedup.appendMinhashIndex(docs.filter(col("doc_id") % 4 === 3), "doc_id", "text", idx, 2L)
        Dedup.compactMinhashIndex(s, idx)
      } + "/idx"
      val batch = docs
        .filter(col("doc_id") % 100 === 50)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      Dedup.incrementalNearDupPairs(batch, "doc_id", "text", dir)
    },

    // E280 index observability: the summary an operator reads before
    // choosing the hot-band cap (maxBandDf) or scheduling a compaction —
    // row/band/doc cardinalities plus the band-frequency tail that drives
    // candidate fan-out. One index scan, two partial aggregates, a single
    // exact-integer row; the twin recomputes the same rollup from the
    // banding replay.
    QEntry.sql(
      "dedup_index_stats", {
        val cb = bandsSqlOver("documents")
        s"""WITH cb AS ($cb),
           |g AS (SELECT band, CAST(count(*) AS BIGINT) AS df FROM cb GROUP BY band)
           |SELECT CAST(sum(df) AS BIGINT) AS n_rows,
           |  CAST(count(*) AS BIGINT) AS n_bands,
           |  CAST(max(df) AS BIGINT) AS max_band_df,
           |  CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS bands_df_ge_2,
           |  CAST(sum(CASE WHEN df >= 8 THEN 1 ELSE 0 END) AS BIGINT) AS bands_df_ge_8,
           |  (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) FROM cb) AS n_docs
           |FROM g""".stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val dir = SharedBuild.dir(s, d, "mhidx") { root =>
        Dedup.buildMinhashIndex(documents(s, d), "doc_id", "text", s"$root/idx")
      } + "/idx"
      Dedup.minhashIndexStats(s, dir)
    },

    // E281 cluster-state REPAIR after right-to-be-forgotten deletion:
    // forgetting a document changes cluster STRUCTURE, not just membership
    // — the deleted doc may have been the only bridge (split) and the
    // canonical min-id label retires with it (relabel). The corpus here
    // holds 3-generation clusters {d, d+1M, d+2M}; deleting every original
    // d (%200) forces the survivors to relabel to d+1M — which the repair
    // derives from the post-deletion index bands of the AFFECTED clusters
    // only, never re-clustering the corpus. The twin recomputes clusters
    // monolithically over the post-deletion corpus, so the hash match is
    // the repair ≡ full-recompute proof; the split case is pinned in
    // PipelineOpsSpec.
    QEntry.sql(
      "dedup_forget_repair", {
        val postRel =
          """(SELECT doc_id, text FROM documents WHERE doc_id % 200 != 0
            | UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents
            |   WHERE doc_id % 100 = 0
            | UNION ALL SELECT doc_id + 2000000 AS doc_id, text FROM documents
            |   WHERE doc_id % 200 = 0)""".stripMargin.replaceAll("\\s+", " ")
        s"""WITH RECURSIVE ab AS (${bandsSqlOver(postRel)}),
           |pairs AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id1,
           |    greatest(a.doc_id, b.doc_id) AS id2
           |  FROM ab a JOIN ab b ON a.band = b.band AND a.doc_id != b.doc_id),
           |edges AS (SELECT id1 AS s, id2 AS d FROM pairs
           |          UNION ALL SELECT id2, id1 FROM pairs),
           |cc(id, comp) AS (
           |  SELECT doc_id, doc_id FROM $postRel u
           |  UNION
           |  SELECT e.s, c.comp FROM edges e JOIN cc c ON e.d = c.id)
           |SELECT id AS doc_id, min(comp) AS cluster_id,
           |       count(*) OVER (PARTITION BY min(comp)) AS cluster_size
           |FROM cc GROUP BY id""".stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val docs = documents(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-repair").toString
      val corpus = docs
        .select(col("doc_id"), col("text"))
        .unionByName(docs.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") % 200 === 0)
          .select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
      Dedup.buildMinhashIndex(corpus, "doc_id", "text", s"$dir/idx")
      // state bootstrap from the index just written — no second signing pass
      Dedup.writeClusterState(
        Dedup.clustersFromMinhashIndex(s, s"$dir/idx"),
        "id", "cluster_id", s"$dir/state")
      val deleted = docs
        .filter(col("doc_id") % 200 === 0)
        .select(col("doc_id").as("id"))
      Dedup.deleteFromMinhashIndex(s, deleted, s"$dir/idx")
      Dedup
        .repairClusterState(s, deleted, s"$dir/idx", s"$dir/state")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .withColumn(
          "cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id")))
        )
    },

    // Deterministic shard shuffle: reproducible pseudo-random training order
    // (shard = key-hash mod n, position = within-shard hash order).
    QEntry.sql(
      "sample_shard_shuffle",
      """SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS pos
        |FROM (
        |  SELECT doc_id,
        |    CAST(list_sum(list_transform(range(1, 9), i ->
        |      (strpos('0123456789abcdef',
        |              substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
        |      * pow(16, 8 - i))) AS BIGINT) % 8 AS shard
        |  FROM documents) t""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Sampling
        .shardShuffle(documents(s, d), "doc_id", 8)
        .select("doc_id", "shard", "pos")
    },

    // E323 consistent-hash resharding audit ([[Sampling
    // .consistentShardAssign]]): every doc assigned on an 8-shard and a
    // 9-shard md5 ring (16 vnodes each; shard-0..7 vnode positions are
    // IDENTICAL in both rings), rolled up by (before, after). The output
    // matrix is the minimal-movement proof: every off-diagonal row has
    // shard_after = 8 — growing the fleet moves keys ONLY onto the new
    // shard, ~1/9 of the corpus, where mod-N reshuffles nearly all of it.
    QEntry.sql(
      "pipe_consistent_hash", {
        def ringSql(n: Int, rel: String) =
          s"""${rel}v AS (SELECT CAST(k // 16 AS INT) AS shard,
             |    md5('shard' || CAST(k // 16 AS VARCHAR) || ':'
             |        || CAST(k % 16 AS VARCHAR)) AS vpos
             |  FROM range(0, ${n * 16}) t(k)),
             |${rel}s AS (SELECT doc_id,
             |    min(CASE WHEN vpos >= kpos THEN vpos END) AS sp
             |  FROM keys CROSS JOIN ${rel}v GROUP BY doc_id, kpos),
             |${rel}w AS (SELECT min(vpos) AS wp FROM ${rel}v),
             |${rel}a AS (SELECT doc_id, v.shard
             |  FROM (SELECT doc_id, COALESCE(sp, wp) AS cp
             |        FROM ${rel}s CROSS JOIN ${rel}w) c
             |  JOIN ${rel}v v ON v.vpos = c.cp)"""
        s"""WITH keys AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS kpos
           |  FROM documents),
           |${ringSql(8, "r8")},
           |${ringSql(9, "r9")}
           |SELECT r8a.shard AS shard_before, r9a.shard AS shard_after,
           |  CAST(count(*) AS BIGINT) AS n_docs
           |FROM r8a JOIN r9a ON r8a.doc_id = r9a.doc_id
           |GROUP BY shard_before, shard_after"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val ids = documents(s, d).select("doc_id")
      val a8 = Sampling
        .consistentShardAssign(ids, "doc_id", 8, 16)
        .withColumnRenamed("shard", "shard_before")
      val a9 = Sampling
        .consistentShardAssign(ids, "doc_id", 9, 16)
        .withColumnRenamed("shard", "shard_after")
      a8.join(a9, "doc_id")
        .groupBy("shard_before", "shard_after")
        .agg(count(lit(1)).as("n_docs"))
    },

    // Deterministic per-stratum sample: the 5 smallest key-hashes per lang.
    QEntry.sql(
      "sample_stratified",
      """SELECT lang, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents) t WHERE rk <= 5"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Sampling
        .stratifiedByHash(documents(s, d), Seq("lang"), "doc_id", 5)
        .select("lang", "doc_id")
    },

    // E327 apportioned sample ([[Sampling.apportionedSample]]): EXACTLY
    // 100 rows overall, split across langs by largest-remainder (Hamilton)
    // apportionment — base ⌊100·n_g/N⌋ each, the leftover units to the
    // largest remainders. Per-stratum rounding can't hit a global budget;
    // this does, by construction, in exact integers.
    QEntry.sql(
      "sample_apportionment",
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS tt FROM c),
        |b AS (SELECT lang, n, 100 * n // tt AS base, 100 * n % tt AS rem
        |  FROM c CROSS JOIN t),
        |l AS (SELECT CAST(100 - sum(base) AS BIGINT) AS lft FROM b),
        |al AS (SELECT lang, base + (CASE WHEN row_number()
        |    OVER (ORDER BY rem DESC, lang) <= lft THEN 1 ELSE 0 END) AS alloc
        |  FROM b CROSS JOIN l),
        |k AS (SELECT lang, doc_id, CAST(row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |SELECT k.lang, k.doc_id FROM k JOIN al ON k.lang = al.lang
        |WHERE k.rn <= al.alloc""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Sampling.apportionedSample(documents(s, d), Seq("lang"), "doc_id", total = 100L)
    },

    // E334 k-center greedy diverse selection ([[Sampling.kCenterGreedy]]):
    // Gonzalez max-min farthest-point traversal over the corpus's SimHash
    // sketches — 8 maximally-spread exemplars, each round picking the doc
    // farthest from its nearest chosen center (exact Hamming, ties on id).
    // The twin unrolls the identical greedy loop as 8 CTE steps and
    // replays the string-level Hamming bit-for-bit.
    QEntry.sql(
      "sample_kcenter_diverse",
      s"""WITH sk AS MATERIALIZED (SELECT doc_id, array_to_string(list_transform(range(0, 64), j ->
         |  CASE WHEN 2 * list_sum(list_transform(words, t ->
         |         ((strpos('0123456789abcdef', substr(md5(t), CAST(j // 4 AS INT) + 1, 1)) - 1)
         |          // CAST(pow(2, 3 - (j % 4)) AS BIGINT)) % 2))
         |       >= len(words) THEN '1' ELSE '0' END), '') AS simhash
         |  FROM (SELECT doc_id, $wordsSql AS words FROM documents) w),
         |${kCenterSql(8)}""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Sampling.kCenterGreedy(
        Dedup.simhash(documents(s, d), "doc_id", "text"),
        "doc_id",
        "simhash",
        k = 8
      )
    },

    // E419 facility-location greedy selection
    // ([[Sampling.facilityLocationGreedy]]): the COVERAGE coreset next to
    // sample_kcenter_diverse's max-min — maximize Σ_v max_{s∈S} sim(v,s)
    // over SimHash similarity by the (1−1/e) greedy, candidates from a
    // bounded md5-spread pool (the at-scale lazy-greedy pool). The twin
    // unrolls four steps CTE-for-CTE — per-candidate gain sums, the
    // (gain DESC, id) argmax, the running best-coverage update — so a
    // selector that double-counted coverage, kept a chosen candidate in the
    // pool, or broke an argmax tie the other way hash-mismatches.
    QEntry.sql(
      "sample_facility_select",
      s"""WITH sk AS MATERIALIZED (SELECT doc_id, array_to_string(list_transform(range(0, 64), j ->
         |  CASE WHEN 2 * list_sum(list_transform(words, t ->
         |         ((strpos('0123456789abcdef', substr(md5(t), CAST(j // 4 AS INT) + 1, 1)) - 1)
         |          // CAST(pow(2, 3 - (j % 4)) AS BIGINT)) % 2))
         |       >= len(words) THEN '1' ELSE '0' END), '') AS simhash
         |  FROM (SELECT doc_id, $wordsSql AS words FROM documents) w),
         |${facilitySql(k = 4, poolSize = 16)}""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Sampling.facilityLocationGreedy(
        Dedup.simhash(documents(s, d), "doc_id", "text"),
        "doc_id",
        "simhash",
        k = 4,
        poolSize = 16
      )
    },

    // Exact-count stratified sample: every stratum contributes EXACTLY
    // round(N_g · 20%) rows — the guarantee the hash-threshold Bernoulli
    // sampler can't give (binomial per-stratum counts). Membership is the
    // md5-smallest 20% per stratum, so samples NEST as the rate grows.
    QEntry.sql(
      "sample_exact_strata",
      """WITH r AS (SELECT lang, doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
        |  FROM documents),
        |t AS (SELECT lang, CAST((count(*) * 20 + 50) // 100 AS BIGINT) AS n_target
        |  FROM r GROUP BY lang),
        |k AS (SELECT r.lang, r.doc_id,
        |    CAST(row_number() OVER (PARTITION BY r.lang ORDER BY r.h, r.doc_id)
        |      AS BIGINT) AS rn FROM r)
        |SELECT k.lang, k.doc_id FROM k JOIN t ON k.lang = t.lang
        |WHERE k.rn <= t.n_target"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Sampling
        .exactStratifiedSample(documents(s, d), Seq("lang"), "doc_id", 20)
        .select("lang", "doc_id")
    },

    // Deterministic stratified k-fold assignment: fold = (md5-rank − 1)
    // mod k within each stratum, so folds are balanced within ±1 PER
    // STRATUM by construction and membership is reproducible across
    // engines, runs, and partitionings — the CV-split contract an
    // RNG-based splitter can't give. Output is the (stratum, fold) count
    // matrix that proves the balance.
    QEntry.sql(
      "sample_kfold_assign",
      """WITH r AS (SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rn
        |  FROM documents)
        |SELECT lang, CAST((rn - 1) % 5 AS BIGINT) AS fold,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM r GROUP BY lang, fold"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      documents(s, d)
        .select(
          col("lang"),
          row_number()
            .over(
              Window
                .partitionBy("lang")
                .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
            )
            .cast("long")
            .as("rn")
        )
        .select(col("lang"), ((col("rn") - 1) % 5).as("fold"))
        .groupBy("lang", "fold")
        .agg(count(lit(1)).as("n"))
    },

    // Mean pairwise cosine per label WITHOUT a pair join: the Gram identity
    // Σ_{i≠j} ûᵢ·ûⱼ = ‖Σû‖² − Σ‖û‖² turns an O(n²·d) all-pairs product
    // into one O(n·d) pass — the measurement that tells a curation run how
    // redundant a label's embeddings are, at any corpus size. Per-vector
    // norms are SEQUENTIAL double folds (identical op order on both
    // engines ⇒ bit-identical), unit components are 10-dp DECIMAL
    // quantized, and every aggregate after that is exact DECIMAL — the
    // emb_group_centroids ladder. Zero-vectors are filtered before the
    // division; n ≥ 2 gates the degenerate group.
    QEntry.sql(
      "emb_pairwise_cos", {
        s"""WITH nv AS MATERIALIZED (SELECT vec_id, label, embedding,
           |    list_reduce(list_transform(embedding, x -> CAST(x AS DOUBLE) * x),
           |      (a, b) -> a + b) AS norm2
           |  FROM embeddings),
           |u AS (SELECT vec_id, label,
           |    list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) / sqrt(norm2), 10)
           |      AS DECIMAL(18,10))) AS uq
           |  FROM nv WHERE norm2 > 0),
           |ex AS (SELECT label, vec_id,
           |    unnest(list_transform(range(0, $EmbDim),
           |      i -> struct_pack(i := i, v := uq[i + 1]))) AS t
           |  FROM u),
           |e2 AS (SELECT label, vec_id, CAST(t.i AS BIGINT) AS pos, t.v AS uv FROM ex),
           |dimsum AS (SELECT label, pos, CAST(sum(uv) AS DECIMAL(18,10)) AS sv
           |  FROM e2 GROUP BY label, pos),
           |g AS (SELECT label, CAST(sum(sv * sv) AS DECIMAL(38,20)) AS norm2g
           |  FROM dimsum GROUP BY label),
           |sf AS (SELECT label, CAST(sum(uv * uv) AS DECIMAL(38,20)) AS selfsum,
           |    CAST(count(DISTINCT vec_id) AS BIGINT) AS n FROM e2 GROUP BY label)
           |SELECT g.label, sf.n,
           |  round(CAST(g.norm2g - sf.selfsum AS DOUBLE) / (sf.n * (sf.n - 1)), 9) AS mean_cos
           |FROM g JOIN sf ON g.label = sf.label WHERE sf.n >= 2"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val nv = embeddings(s, d).select(
        col("vec_id"),
        col("label"),
        col("embedding"),
        expr(
          "aggregate(embedding, CAST(0 AS DOUBLE)," +
            " (a, x) -> a + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
        ).as("norm2")
      )
      val u = nv
        .filter(col("norm2") > 0)
        .select(
          col("vec_id"),
          col("label"),
          expr(
            "transform(embedding," +
              " x -> CAST(round(CAST(x AS DOUBLE) / sqrt(norm2), 10) AS DECIMAL(18,10)))"
          ).as("uq")
        )
      val e2 = u
        .select(col("label"), col("vec_id"), posexplode(col("uq")).as(Seq("pos", "uv")))
        .localCheckpoint() // dim sums + self sums both consume the explode
      val dimsum = e2
        .groupBy("label", "pos")
        .agg(sum("uv").cast("decimal(18,10)").as("sv"))
      val g = dimsum
        .groupBy("label")
        .agg(sum(col("sv") * col("sv")).cast("decimal(38,20)").as("norm2g"))
      val sf2 = e2
        .groupBy("label")
        .agg(
          sum(col("uv") * col("uv")).cast("decimal(38,20)").as("selfsum"),
          countDistinct("vec_id").cast("long").as("n")
        )
      g.join(sf2, "label")
        .filter(col("n") >= 2)
        .select(
          col("label"),
          col("n"),
          round(
            (col("norm2g") - col("selfsum")).cast("double") / (col("n") * (col("n") - 1)),
            9
          ).as("mean_cos")
        )
    },

    // E429 distributed power iteration for the top principal component
    // ([[Pca.pcaTopComponent]]): matrix-free Cov·v = Σ yᵢ(yᵢᵀv), three
    // iterations, every intermediate an exact integer re-quantized by a
    // digit-length-derived power of ten — the twin replays the micro-unit
    // quantization, the truncating mean, and all three d/e/u/v rounds
    // value-for-value, so a single off-by-one in any truncation shifts the
    // hash. 64-row output: the dominant eigendirection.
    QEntry.sql(
      "emb_pca_power", {
        val iterCtes = (1 to 3).map { k =>
          s""",
             |d$k AS (SELECT vec_id, CAST(sum(y * vv) AS BIGINT) AS d
             |  FROM y JOIN v${k - 1} USING (pos) GROUP BY vec_id),
             |sd$k AS (SELECT CAST(pow(10, greatest(
             |    length(CAST(max(abs(d)) AS VARCHAR)) - 5, 0)) AS BIGINT) AS p
             |  FROM d$k),
             |e$k AS (SELECT vec_id, d // (SELECT p FROM sd$k) AS e FROM d$k),
             |u$k AS (SELECT pos, CAST(sum(y * e) AS BIGINT) AS u
             |  FROM y JOIN e$k USING (vec_id) GROUP BY pos),
             |su$k AS (SELECT CAST(pow(10, greatest(
             |    length(CAST(max(abs(u)) AS VARCHAR)) - 4, 0)) AS BIGINT) AS p
             |  FROM u$k),
             |v$k AS (SELECT pos, u // (SELECT p FROM su$k) AS vv FROM u$k)"""
        }.mkString
        s"""WITH q AS (SELECT vec_id, CAST(t.i AS INT) AS pos,
           |    CAST(round(CAST(t.v AS DOUBLE) * 1000000) AS BIGINT) AS y0
           |  FROM (SELECT vec_id, unnest(list_transform(range(0, $EmbDim),
           |      i -> struct_pack(i := i, v := embedding[i + 1]))) AS t
           |    FROM embeddings) x),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
           |mu AS (SELECT pos, CAST(sum(y0) AS BIGINT) // (SELECT n FROM nn) AS mu
           |  FROM q GROUP BY pos),
           |y AS (SELECT vec_id, q.pos, y0 - mu AS y FROM q JOIN mu USING (pos)),
           |v0 AS (SELECT CAST(p AS INT) AS pos, CAST(1000 AS BIGINT) AS vv
           |  FROM (SELECT unnest(range(0, $EmbDim)) AS p) t)$iterCtes
           |SELECT CAST(pos AS BIGINT) AS pos, vv AS v_unit FROM v3"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      Pca.pcaTopComponent(embeddings(s, d), "vec_id", "embedding", dim = EmbDim, iters = 3)
    },

    // E430 all-but-the-top projections ([[Pca.abttProjections]]): the exact
    // integer coordinate of every CENTERED vector along the learned top
    // component — rank by |proj| to find the hub/boilerplate embeddings the
    // shared direction inflates, subtract proj·v/‖v‖² to post-process. The
    // twin re-runs the full power iteration then the projection join.
    QEntry.sql(
      "emb_abtt_proj", {
        val iterCtes = (1 to 3).map { k =>
          s""",
             |d$k AS (SELECT vec_id, CAST(sum(y * vv) AS BIGINT) AS d
             |  FROM y JOIN v${k - 1} USING (pos) GROUP BY vec_id),
             |sd$k AS (SELECT CAST(pow(10, greatest(
             |    length(CAST(max(abs(d)) AS VARCHAR)) - 5, 0)) AS BIGINT) AS p
             |  FROM d$k),
             |e$k AS (SELECT vec_id, d // (SELECT p FROM sd$k) AS e FROM d$k),
             |u$k AS (SELECT pos, CAST(sum(y * e) AS BIGINT) AS u
             |  FROM y JOIN e$k USING (vec_id) GROUP BY pos),
             |su$k AS (SELECT CAST(pow(10, greatest(
             |    length(CAST(max(abs(u)) AS VARCHAR)) - 4, 0)) AS BIGINT) AS p
             |  FROM u$k),
             |v$k AS (SELECT pos, u // (SELECT p FROM su$k) AS vv FROM u$k)"""
        }.mkString
        s"""WITH q AS (SELECT vec_id, CAST(t.i AS INT) AS pos,
           |    CAST(round(CAST(t.v AS DOUBLE) * 1000000) AS BIGINT) AS y0
           |  FROM (SELECT vec_id, unnest(list_transform(range(0, $EmbDim),
           |      i -> struct_pack(i := i, v := embedding[i + 1]))) AS t
           |    FROM embeddings) x),
           |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
           |mu AS (SELECT pos, CAST(sum(y0) AS BIGINT) // (SELECT n FROM nn) AS mu
           |  FROM q GROUP BY pos),
           |y AS (SELECT vec_id, q.pos, y0 - mu AS y FROM q JOIN mu USING (pos)),
           |v0 AS (SELECT CAST(p AS INT) AS pos, CAST(1000 AS BIGINT) AS vv
           |  FROM (SELECT unnest(range(0, $EmbDim)) AS p) t)$iterCtes
           |SELECT vec_id, CAST(sum(y * vv) AS BIGINT) AS proj
           |FROM y JOIN v3 USING (pos) GROUP BY vec_id"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      Pca.abttProjections(embeddings(s, d), "vec_id", "embedding", dim = EmbDim, iters = 3)
    },

    // Deterministic weighted sampling without replacement (A-ES): longer
    // documents proportionally more likely; the twin replays the md5 hash
    // position digit-by-digit and the same ln(u)/w ranking.
    QEntry.sql(
      "sample_weighted_topk", {
        val hashpos =
          """CAST(list_sum(list_transform(range(1, 9), i ->
            |  (strpos('0123456789abcdef',
            |          substr(md5(CAST(doc_id AS VARCHAR)), CAST(i AS INT), 1)) - 1)
            |  * pow(16, 8 - i))) AS DOUBLE) / 4294967296.0""".stripMargin
        s"""WITH s AS (SELECT doc_id, n_chars, ln($hashpos) / n_chars AS sk FROM documents)
           |SELECT doc_id, n_chars, round(sk, 6) AS sample_key,
           |  CAST(row_number() OVER (ORDER BY sk DESC, doc_id) AS BIGINT) AS rank
           |FROM s ORDER BY sk DESC, doc_id LIMIT 50"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      Sampling.weightedTopK(documents(s, d), "doc_id", "n_chars", 50)
    },

    // Deterministic 2-arm assignment + sample-ratio-mismatch gate
    // ([[Sampling.srmCheck]]): arm = md5(salt|user) mod 2 over distinct
    // users; χ² for two equal halves = (n_a − n_b)²/n, reported as exact
    // ppm. One distinct shuffle + one partial agg to a single row.
    QEntry.sql(
      "sample_srm_check",
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (SELECT CAST(('0x' || substr(md5('ab|' || CAST(user_id AS VARCHAR)), 1, 8))
        |    AS BIGINT) % 2 AS arm FROM u),
        |c AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
        |    CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b FROM a)
        |SELECT n_units, n_a, n_b,
        |  CAST((n_a - n_b) * (n_a - n_b) * 1000000 // n_units AS BIGINT) AS srm_ppm
        |FROM c""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) => Sampling.srmCheck(events(s, d), "user_id") },

    // Poissonized bootstrap over order totals ([[Sampling
    // .poissonBootstrapMeans]]): 32 replicate means of cents, each row's
    // per-replicate weight Poisson(1) via integer hash thresholds — B
    // resamples in ONE linear pass (map-side expansion + a 32-group agg),
    // the formulation that makes bootstrap CIs tractable at 100 TB.
    // Exact-integer replicate means (millis). Hash economics: four md5
    // digests per row carry eight 16-bit replicate draws each (the md5,
    // not the agg, dominated the first cut at 32 digests/row — 2.4×
    // cheaper this way at sf0.1).
    QEntry.sql(
      "q_bootstrap_means",
      """WITH o AS (SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    [md5('bs0|' || CAST(o_orderkey AS VARCHAR)),
        |     md5('bs1|' || CAST(o_orderkey AS VARCHAR)),
        |     md5('bs2|' || CAST(o_orderkey AS VARCHAR)),
        |     md5('bs3|' || CAST(o_orderkey AS VARCHAR))] AS m FROM orders),
        |x AS (SELECT r.rep, o.cents,
        |    CAST(('0x' || substr(o.m[CAST(r.rep // 8 AS INT) + 1],
        |      CAST((r.rep % 8) * 4 + 1 AS INT), 4)) AS BIGINT) AS hv
        |  FROM o CROSS JOIN (SELECT unnest(range(0, 32)) AS rep) r),
        |w AS (SELECT rep, cents,
        |    CASE WHEN hv < 24109 THEN 0
        |         WHEN hv < 48218 THEN 1
        |         WHEN hv < 60273 THEN 2
        |         WHEN hv < 64291 THEN 3
        |         ELSE 4 END AS w FROM x)
        |SELECT CAST(rep AS BIGINT) AS rep, CAST(sum(w) AS BIGINT) AS n_eff,
        |  CAST(CAST(sum(CAST(w AS BIGINT) * cents) AS BIGINT) * 1000
        |    // CAST(sum(w) AS BIGINT) AS BIGINT) AS mean_milli
        |FROM w GROUP BY rep""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      Sampling.poissonBootstrapMeans(
        orders(s, d).select(
          col("o_orderkey"),
          (col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").as("cents")
        ),
        "o_orderkey",
        "cents"
      )
    },

    // End-to-end training-data curation pipeline in ONE declarative plan:
    // quality-score filter → language filter → exact dedup keep-first →
    // per-source rollup. The point: composition stays a single Catalyst plan
    // (filters fuse into the scan, dedup is one shuffle) — no materialization
    // between stages.
    QEntry.sql(
      "pipe_curation_rollup", {
        val wordsSql = """string_split_regex(trim(text), '\s+')"""
        val swList = TextAnalysis.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
        val tokens = s"len($wordsSql)"
        val sw = s"len(list_filter($wordsSql, w -> list_contains($swList, w)))"
        val punct = """(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))"""
        val qual =
          s"""round(least(1.0, CAST($tokens AS DOUBLE) / 100.0) * 0.5
             | + (CAST($sw AS DOUBLE) / $tokens) * 0.3
             | + (1.0 - CAST($punct AS DOUBLE) / length(text)) * 0.2, 4)""".stripMargin
        s"""WITH scored AS (
           |  SELECT doc_id, source, text, $qual AS q FROM documents),
           |filtered AS (SELECT * FROM scored WHERE q >= 0.5),
           |keepers AS (SELECT min(doc_id) AS keep_id FROM filtered GROUP BY md5(text))
           |SELECT f.source, count(*) AS docs, round(avg(f.q), 4) AS avg_quality
           |FROM filtered f JOIN keepers k ON f.doc_id = k.keep_id
           |GROUP BY f.source""".stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val scored = documents(s, d)
        .select(
          col("doc_id"),
          col("source"),
          col("text"),
          TextAnalysis.qualityScore(col("text")).as("q")
        )
        .filter(col("q") >= 0.5)
      val keepers = Dedup
        .exactDedup(scored, "doc_id", "text")
        .select(col("keep_id"))
      scored
        .join(keepers, scored("doc_id") === keepers("keep_id"), "left_semi")
        .groupBy("source")
        .agg(count(lit(1)).as("docs"), round(avg("q"), 4).as("avg_quality"))
    },

    // Chunk-level ("line-level") corpus dedup: each 10-token chunk survives
    // only at its first corpus-wide occurrence (doc id, then position);
    // documents are reassembled from the surviving chunks. The twin replays
    // the chunking with DuckDB list slicing and picks winners with a window
    // (oracle-side only — the Spark path uses a partial-agg min(struct), see
    // Dedup.chunkDedup's scale note).
    QEntry.sql(
      "dedup_chunk_lines",
      s"""WITH w AS (SELECT doc_id, $wordsSql AS words FROM documents),
         |c AS (SELECT doc_id, words,
         |        unnest(range(0, CAST(ceil(len(words) / 10.0) AS BIGINT))) AS idx
         |      FROM w),
         |ch AS (SELECT doc_id, idx,
         |         array_to_string(words[(idx*10 + 1):(idx*10 + 10)], ' ') AS chunk
         |       FROM c),
         |kept AS (SELECT doc_id, idx, chunk FROM (
         |    SELECT *, row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rn
         |    FROM ch) t WHERE rn = 1),
         |tot AS (SELECT doc_id, CAST(ceil(len(words) / 10.0) AS BIGINT) AS total FROM w)
         |SELECT t.doc_id,
         |  coalesce(string_agg(k.chunk, ' ' ORDER BY k.idx), '') AS text_dedup,
         |  count(k.chunk) AS kept_chunks,
         |  t.total - count(k.chunk) AS dropped_chunks
         |FROM tot t LEFT JOIN kept k ON t.doc_id = k.doc_id
         |GROUP BY t.doc_id, t.total""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) => Dedup.chunkDedup(documents(s, d), "doc_id", "text", chunkTokens = 10) },

    // E330 content-defined chunking ([[Dedup.cdcChunkTable]]): boundary
    // after char i whenever the 8-char trailing polynomial hash ≡ 0 mod 64
    // (exact BIGINT, 131^7·127 < 2^63 — no mid-fold modulus). The corpus is
    // replayed with a 5-char-prefixed slice under shifted ids; the fixed
    // 64-char grid shares NO chunks with the prefixed copies (every grid
    // cell shifts by 5) while CDC re-synchronizes at the first boundary —
    // the saved_ppm gap between the two rows IS the content-defined
    // property, measured. Store accounting = distinct-chunk footprint vs
    // logical bytes, both exact.
    QEntry.sql(
      "dedup_cdc_chunks",
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, 'DUP: ' || text AS text
        |  FROM documents WHERE doc_id % 7 = 0),
        |b AS (SELECT doc_id, text, length(text) AS n,
        |  CASE WHEN length(text) - 1 >= 8 THEN
        |    list_filter(range(8, length(text)), i ->
        |      list_sum(list_transform(range(0, 8), j ->
        |        ord(substr(text, CAST(i - 7 + j AS INT), 1)) *
        |        ([662062621900811, 5053913144281, 38579489651, 294499921,
        |          2248091, 17161, 131, 1])[CAST(j + 1 AS INT)])) % 64 = 0)
        |  ELSE CAST([] AS BIGINT[]) END AS bnd
        |  FROM corpus),
        |st AS (SELECT doc_id, text, n,
        |  list_prepend(CAST(1 AS BIGINT), list_transform(bnd, x -> x + 1)) AS starts,
        |  list_append(bnd, n) AS ends FROM b),
        |cdc AS (SELECT 'cdc' AS scheme, doc_id,
        |  unnest(list_transform(range(1, len(starts) + 1), k ->
        |    substr(text, CAST(starts[CAST(k AS INT)] AS INT),
        |      CAST(ends[CAST(k AS INT)] - starts[CAST(k AS INT)] + 1 AS INT)))) AS chunk
        |  FROM st),
        |fx AS (SELECT 'fixed64' AS scheme, doc_id,
        |  unnest(list_transform(
        |    range(0, greatest(CAST(ceil(length(text) / 64.0) AS BIGINT), 1)), i ->
        |    substr(text, CAST(i * 64 + 1 AS INT), 64))) AS chunk
        |  FROM corpus),
        |al AS (SELECT * FROM cdc UNION ALL SELECT * FROM fx),
        |t AS (SELECT scheme, CAST(count(*) AS BIGINT) AS n_chunks,
        |    CAST(sum(length(chunk)) AS BIGINT) AS logical_chars
        |  FROM al GROUP BY scheme),
        |u AS (SELECT scheme, CAST(count(*) AS BIGINT) AS n_unique,
        |    CAST(sum(length(chunk)) AS BIGINT) AS stored_chars
        |  FROM (SELECT DISTINCT scheme, chunk FROM al) GROUP BY scheme)
        |SELECT t.scheme, t.n_chunks, u.n_unique, t.logical_chars, u.stored_chars,
        |  (t.logical_chars - u.stored_chars) * 1000000 // t.logical_chars AS saved_ppm
        |FROM t JOIN u ON t.scheme = u.scheme"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val base = documents(s, d).select(col("doc_id"), col("text"))
      val dup = base
        .filter(col("doc_id") % 7 === 0)
        .select(
          (col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("DUP: "), col("text")).as("text")
        )
      val corpus = base.unionByName(dup)
      val cdc = Dedup
        .cdcChunkTable(corpus, "doc_id", "text")
        .withColumn("scheme", lit("cdc"))
      val fixed = Dedup
        .fixedChunkTable(corpus, "doc_id", "text")
        .withColumn("scheme", lit("fixed64"))
      Dedup.chunkStorageStats(cdc.unionByName(fixed), "scheme", "chunk")
    },

    // Symmetric int8 embedding quantization — every step is an exactly-
    // specified IEEE op (widen, multiply, divide, floor, max-of-abs), so the
    // quantized components verify bit-for-bit with no rounding mitigation.
    QEntry.sql(
      "emb_quantize_int8",
      """SELECT vec_id, CAST(pos - 1 AS BIGINT) AS pos,
        |  CASE WHEN m = 0 THEN 0
        |       ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / m + 0.5) AS BIGINT)
        |  END AS q,
        |  m AS scale_max_abs
        |FROM (SELECT vec_id,
        |        unnest(embedding) AS x,
        |        generate_subscripts(embedding, 1) AS pos,
        |        list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS m
        |      FROM embeddings) e"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) => Similarity.quantizeInt8(embeddings(s, d), "vec_id", "embedding") },

    // Product-quantization codes over the int8-quantized vectors: m=4
    // subspaces of 16 dims, codebook = every 31st corpus vector. All
    // distances are exact BIGINT sums of squared integer differences, so
    // the argmin (tie-break on code) is bit-identical cross-engine.
    QEntry.sql(
      "emb_pq_codes",
      """WITH q AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding, x ->
        |                CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT)) END AS qv
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS mx
        |        FROM embeddings) e),
        |subs AS (
        |  SELECT vec_id, s, list_slice(qv, CAST(s * 16 + 1 AS INT), CAST(s * 16 + 16 AS INT)) AS sv
        |  FROM q, (SELECT unnest(range(0, 4)) AS s) ss),
        |cb AS (SELECT vec_id AS code, s, sv AS cv FROM subs WHERE vec_id % 31 = 0),
        |d AS (
        |  SELECT subs.vec_id, subs.s, cb.code,
        |    CAST(list_sum(list_transform(range(1, 17), i ->
        |      (sv[CAST(i AS INT)] - cv[CAST(i AS INT)])
        |      * (sv[CAST(i AS INT)] - cv[CAST(i AS INT)]))) AS BIGINT) AS dist
        |  FROM subs JOIN cb ON subs.s = cb.s)
        |SELECT vec_id, s AS sub, code, dist FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
        |  FROM d) t
        |WHERE rn = 1""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) => Similarity.pqEncode(embeddings(s, d), "vec_id", "embedding") },

    // PQ approximate top-k (the IVF-PQ probe shape): corpus → m codes, query
    // distances to every codebook entry tabulated once (broadcast LUT),
    // approximate distance = sum of the m LUT entries. All-integer symmetric
    // DC, so the twin replays it exactly.
    QEntry.sql(
      "ann_pq_topk",
      """WITH q AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding, x ->
        |                CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT)) END AS qv
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS mx
        |        FROM embeddings) e),
        |subs AS (
        |  SELECT vec_id, s, list_slice(qv, CAST(s * 16 + 1 AS INT), CAST(s * 16 + 16 AS INT)) AS sv
        |  FROM q, (SELECT unnest(range(0, 4)) AS s) ss),
        |cb AS (SELECT vec_id AS code, s, sv AS cv FROM subs WHERE vec_id % 31 = 0),
        |dists AS (
        |  SELECT subs.vec_id, subs.s, cb.code,
        |    CAST(list_sum(list_transform(range(1, 17), i ->
        |      (sv[CAST(i AS INT)] - cv[CAST(i AS INT)])
        |      * (sv[CAST(i AS INT)] - cv[CAST(i AS INT)]))) AS BIGINT) AS dist
        |  FROM subs JOIN cb ON subs.s = cb.s),
        |codes AS (
        |  SELECT vec_id AS neighbor_id, s, code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
        |    FROM dists) t WHERE rn = 1),
        |lut AS (SELECT vec_id AS query_id, s, code, dist AS pdist
        |        FROM dists WHERE vec_id < 5),
        |ad AS (
        |  SELECT lut.query_id, codes.neighbor_id, CAST(sum(lut.pdist) AS BIGINT) AS adist
        |  FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.code
        |  WHERE codes.neighbor_id != lut.query_id
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, adist, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
        |  FROM ad) t
        |WHERE rn <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
    },

    // E262 incremental EMBEDDING near-dup against the persisted LSH index —
    // the vector-space member of the O(delta)-per-ingest family (text
    // MinHash E257, perceptual sketches E261): a batch of re-ingested
    // vectors (every 40th, shifted ids — exact copies, cosine 1.0) buckets
    // once and pairs against the on-disk (vector, norm, bucket) rows, so
    // the corpus is never re-bucketed and only same-bucket candidates are
    // cosine-scored. The twin replays plane regeneration → bucketing →
    // bucket join → rounded-cosine threshold over corpus ∪ batch. bits = 6
    // (64 bucket dirs): directory count dominated this entry at bits=8 —
    // measured 4.89 s → 1.79 s, and the coarser buckets can only ADD
    // true ≥-threshold pairs the finer banding missed (recall rises).
    QEntry.sql(
      "emb_incremental_neardup",
      s"""WITH ${bucketsSql(bits = 6)},
         |bb AS (SELECT vec_id + 1000000 AS vec_id, e, bucket
         |       FROM buckets WHERE vec_id % 40 = 0),
         |ab AS (SELECT vec_id, e, bucket FROM buckets
         |       UNION ALL SELECT vec_id, e, bucket FROM bb)
         |SELECT DISTINCT id1, id2, cos FROM (
         |  SELECT least(a.vec_id, b.vec_id) AS id1,
         |    greatest(a.vec_id, b.vec_id) AS id2,
         |    round(list_dot_product(a.e, b.e) /
         |          (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cos
         |  FROM bb a JOIN ab b ON a.bucket = b.bucket AND a.vec_id != b.vec_id) p
         |WHERE cos >= 0.99""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      val dir = SharedBuild.dir(s, d, "emblsh") { root =>
        Similarity.buildLshIndex(emb, "vec_id", "embedding", s"$root/lsh",
          bits = 6, dim = EmbDim)
      } + "/lsh"
      val batch = emb
        .filter(col("vec_id") % 40 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      Similarity.incrementalCosinePairs(batch, "vec_id", "embedding", dir, 0.99,
        bits = 6, dim = EmbDim)
    },

    // E282 incremental EMBEDDING cluster maintenance — the vector-space
    // member of the incremental-cluster family (text E273, perceptual
    // E278): the corpus (embeddings ∪ an exact-copy re-ingest, so the
    // state holds real 2-vector clusters) is clustered once from its LSH
    // bucket pairs and persisted; a second-generation batch buckets once
    // against the persisted vector index and folds in through the shared
    // label-space contraction. bits = 6 (64 bucket dirs): at this corpus
    // size the 2^bits directory count dominates the entry's cost —
    // measured 7.55 s at bits=8 vs 5.01 s at bits=6, same recall on the
    // planted copies (exact duplicates share any bucket). The twin recomputes the three-generation
    // cluster fixpoint monolithically — every %80 vector must land in
    // cluster {v, v+1M, v+2M} with cluster_id v.
    QEntry.sql(
      "emb_incremental_clusters",
      s"""WITH RECURSIVE ${bucketsSql(bits = 6)},
         |b1 AS (SELECT vec_id + 1000000 AS vec_id, e, bucket FROM buckets
         |       WHERE vec_id % 40 = 0),
         |b2 AS (SELECT vec_id + 2000000 AS vec_id, e, bucket FROM buckets
         |       WHERE vec_id % 80 = 0),
         |ab AS (SELECT vec_id, e, bucket FROM buckets
         |       UNION ALL SELECT vec_id, e, bucket FROM b1
         |       UNION ALL SELECT vec_id, e, bucket FROM b2),
         |pairs AS (SELECT DISTINCT least(a.vec_id, b.vec_id) AS id1,
         |    greatest(a.vec_id, b.vec_id) AS id2
         |  FROM ab a JOIN ab b ON a.bucket = b.bucket AND a.vec_id != b.vec_id
         |  WHERE round(list_dot_product(a.e, b.e) /
         |        (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6)
         |        >= 0.99),
         |edges AS (SELECT id1 AS s, id2 AS d FROM pairs
         |          UNION ALL SELECT id2, id1 FROM pairs),
         |cc(id, comp) AS (
         |  SELECT vec_id, vec_id FROM ab
         |  UNION
         |  SELECT e2.s, c.comp FROM edges e2 JOIN cc c ON e2.d = c.id)
         |SELECT id AS vec_id, min(comp) AS cluster_id,
         |       count(*) OVER (PARTITION BY min(comp)) AS cluster_size
         |FROM cc GROUP BY id""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-embclu").toString
      val corpus = emb
        .select(col("vec_id"), col("embedding"))
        .unionByName(emb.filter(col("vec_id") % 40 === 0)
          .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
      Similarity.buildLshIndex(corpus, "vec_id", "embedding", s"$dir/lsh",
        bits = 6, dim = EmbDim)
      // state seeded from the in-memory frame: at THIS corpus size the
      // 256-bucket-dir index read costs more than re-bucketing (measured
      // 6.4 s → 7.8 s); clustersFromLshIndex is the bootstrap once the
      // corpus frame itself is the expensive thing to produce
      Dedup.writeClusterState(
        Similarity.cosineClusters(corpus, "vec_id", "embedding", 0.99,
          bits = 6, dim = EmbDim),
        "vec_id", "cluster_id", s"$dir/state")
      val batch = emb
        .filter(col("vec_id") % 80 === 0)
        .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
      Similarity
        .incrementalCosineClusters(batch, "vec_id", "embedding",
          s"$dir/lsh", s"$dir/state", 0.99, bits = 6, dim = EmbDim)
        .select(col("id").as("vec_id"), col("cluster_id"))
        .withColumn(
          "cluster_size",
          count(lit(1)).over(Window.partitionBy(col("cluster_id")))
        )
    },

    // E90 persisted-PQ-index READ path, oracled (the PQ sibling of
    // ann_lsh_index_fetch): the entry writes codebook + codes parquet, then
    // answers the query set from the ON-DISK codes alone — raw corpus
    // vectors are touched only at encode time, the PQ byte-budget story.
    // The twin replays quantize → codebook → assign → LUT → rank exactly
    // as ann_pq_topk's does; index ≡ direct equality is also specced.
    QEntry.sql(
      "ann_pq_index_fetch",
      """WITH q AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding, x ->
        |                CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT)) END AS qv
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS mx
        |        FROM embeddings) e),
        |subs AS (
        |  SELECT vec_id, s, list_slice(qv, CAST(s * 16 + 1 AS INT), CAST(s * 16 + 16 AS INT)) AS sv
        |  FROM q, (SELECT unnest(range(0, 4)) AS s) ss),
        |cb AS (SELECT vec_id AS code, s, sv AS cv FROM subs WHERE vec_id % 31 = 0),
        |dists AS (
        |  SELECT subs.vec_id, subs.s, cb.code,
        |    CAST(list_sum(list_transform(range(1, 17), i ->
        |      (sv[CAST(i AS INT)] - cv[CAST(i AS INT)])
        |      * (sv[CAST(i AS INT)] - cv[CAST(i AS INT)]))) AS BIGINT) AS dist
        |  FROM subs JOIN cb ON subs.s = cb.s),
        |codes AS (
        |  SELECT vec_id AS neighbor_id, s, code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
        |    FROM dists) t WHERE rn = 1),
        |lut AS (SELECT vec_id AS query_id, s, code, dist AS pdist
        |        FROM dists WHERE vec_id < 5),
        |ad AS (
        |  SELECT lut.query_id, codes.neighbor_id, CAST(sum(lut.pdist) AS BIGINT) AS adist
        |  FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.code
        |  WHERE codes.neighbor_id != lut.query_id
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, adist, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
        |  FROM ad) t
        |WHERE rn <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      val dir = SharedBuild.dir(s, d, "pqidx") { root =>
        Similarity.buildPqIndex(emb, "vec_id", "embedding", s"$root/pq")
      } + "/pq"
      Similarity.pqTopKFromIndex(emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, dir)
    },

    // IVF-PQ — the full production ANN composition: IVF cells restrict
    // candidates, PQ codes + broadcast LUT rank them. Stride centroids and
    // exact integer PQ distances keep the whole pipeline replayable.
    QEntry.sql(
      "ann_ivfpq_topk",
      """WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |             FROM embeddings),
        |cents AS (SELECT vec_id AS cell, e AS ce FROM vecs WHERE vec_id % 37 = 0),
        |assign AS (
        |  SELECT vec_id, cell, cr FROM (
        |    SELECT v.vec_id, c.cell,
        |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |        list_dot_product(v.e, c.ce) /
        |        (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c.ce, c.ce))) DESC,
        |        c.cell) AS cr
        |    FROM vecs v, cents c) t),
        |q AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding, x ->
        |                CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT)) END AS qv
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS mx
        |        FROM embeddings) e),
        |subs AS (
        |  SELECT vec_id, s, list_slice(qv, CAST(s * 16 + 1 AS INT), CAST(s * 16 + 16 AS INT)) AS sv
        |  FROM q, (SELECT unnest(range(0, 4)) AS s) ss),
        |cb AS (SELECT vec_id AS code, s, sv AS cv FROM subs WHERE vec_id % 31 = 0),
        |dists AS (
        |  SELECT subs.vec_id, subs.s, cb.code,
        |    CAST(list_sum(list_transform(range(1, 17), i ->
        |      (sv[CAST(i AS INT)] - cv[CAST(i AS INT)])
        |      * (sv[CAST(i AS INT)] - cv[CAST(i AS INT)]))) AS BIGINT) AS dist
        |  FROM subs JOIN cb ON subs.s = cb.s),
        |codes AS (
        |  SELECT vec_id AS neighbor_id, s, code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
        |    FROM dists) t WHERE rn = 1),
        |lut AS (SELECT vec_id AS query_id, s, code, dist AS pdist
        |        FROM dists WHERE vec_id < 5),
        |cands AS (
        |  SELECT qa.vec_id AS query_id, n.vec_id AS neighbor_id
        |  FROM (SELECT * FROM assign WHERE vec_id < 5 AND cr <= 3) qa
        |  JOIN (SELECT * FROM assign WHERE cr <= 1) n
        |  ON qa.cell = n.cell AND n.vec_id != qa.vec_id),
        |ad AS (
        |  SELECT c.query_id, c.neighbor_id, CAST(sum(lut.pdist) AS BIGINT) AS adist
        |  FROM cands c
        |  JOIN codes ON codes.neighbor_id = c.neighbor_id
        |  JOIN lut ON lut.query_id = c.query_id AND lut.s = codes.s AND lut.code = codes.code
        |  GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, adist, CAST(rn AS BIGINT) AS rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
        |  FROM ad) t
        |WHERE rn <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
    },

    // Two-stage retrieval: PQ shortlist (50 deep, codes only) → exact cosine
    // re-rank of just the shortlist — the standard quantized-search accuracy
    // recovery. Only shortlist vectors are ever fetched raw.
    QEntry.sql(
      "ann_pq_rerank_topk",
      """WITH q AS (
        |  SELECT vec_id,
        |    CASE WHEN mx = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
        |         ELSE list_transform(embedding, x ->
        |                CAST(floor(CAST(x AS DOUBLE) * 127.0 / mx + 0.5) AS BIGINT)) END AS qv
        |  FROM (SELECT vec_id, embedding,
        |          list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS mx
        |        FROM embeddings) e),
        |subs AS (
        |  SELECT vec_id, s, list_slice(qv, CAST(s * 16 + 1 AS INT), CAST(s * 16 + 16 AS INT)) AS sv
        |  FROM q, (SELECT unnest(range(0, 4)) AS s) ss),
        |cb AS (SELECT vec_id AS code, s, sv AS cv FROM subs WHERE vec_id % 31 = 0),
        |dists AS (
        |  SELECT subs.vec_id, subs.s, cb.code,
        |    CAST(list_sum(list_transform(range(1, 17), i ->
        |      (sv[CAST(i AS INT)] - cv[CAST(i AS INT)])
        |      * (sv[CAST(i AS INT)] - cv[CAST(i AS INT)]))) AS BIGINT) AS dist
        |  FROM subs JOIN cb ON subs.s = cb.s),
        |codes AS (
        |  SELECT vec_id AS neighbor_id, s, code FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, code) AS rn
        |    FROM dists) t WHERE rn = 1),
        |lut AS (SELECT vec_id AS query_id, s, code, dist AS pdist
        |        FROM dists WHERE vec_id < 5),
        |ad AS (
        |  SELECT lut.query_id, codes.neighbor_id, CAST(sum(lut.pdist) AS BIGINT) AS adist
        |  FROM codes JOIN lut ON codes.s = lut.s AND codes.code = lut.code
        |  WHERE codes.neighbor_id != lut.query_id
        |  GROUP BY 1, 2),
        |short AS (SELECT query_id, neighbor_id FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rn
        |  FROM ad) t WHERE rn <= 50),
        |vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
        |         FROM embeddings)
        |SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
        |  FROM (
        |    SELECT sh.query_id, sh.neighbor_id,
        |      round(list_dot_product(qe.e, ne.e) /
        |            (sqrt(list_dot_product(qe.e, qe.e)) * sqrt(list_dot_product(ne.e, ne.e))), 6)
        |        AS cos
        |    FROM short sh
        |    JOIN vecs ne ON ne.vec_id = sh.neighbor_id
        |    JOIN vecs qe ON qe.vec_id = sh.query_id) s) r
        |WHERE rank <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity
        .pqRerankTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .withColumn("rank", col("rank").cast("bigint"))
    },

    // 1-bit sign quantization: bitstring + positive-component count.
    QEntry.sql(
      "emb_binary_quantize",
      """SELECT vec_id,
        |  array_to_string(list_transform(embedding,
        |    x -> CASE WHEN x >= 0 THEN '1' ELSE '0' END), '') AS bits,
        |  CAST(len(list_filter(embedding, x -> x >= 0)) AS BIGINT) AS n_pos
        |FROM embeddings""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) => Similarity.binaryQuantize(embeddings(s, d), "vec_id", "embedding") },

    // Binary-quantized retrieval: Hamming top-10 over sign bits (exact
    // integer distances — deterministic ranking, no rounding anywhere).
    QEntry.sql(
      "ann_hamming_topk",
      s"""WITH qb AS (SELECT vec_id AS query_id, list_transform(embedding,
         |    x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS b
         |  FROM embeddings WHERE vec_id < 5),
         |cb AS (SELECT vec_id AS neighbor_id, list_transform(embedding,
         |    x -> CASE WHEN x >= 0 THEN 1 ELSE 0 END) AS b
         |  FROM embeddings)
         |SELECT query_id, neighbor_id, ham, rank FROM (
         |  SELECT query_id, neighbor_id, ham,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY ham, neighbor_id)
         |      AS BIGINT) AS rank
         |  FROM (SELECT q.query_id, c.neighbor_id,
         |      CAST(list_sum(list_transform(range(1, ${EmbDim + 1}),
         |        i -> abs(q.b[i] - c.b[i]))) AS BIGINT) AS ham
         |    FROM qb q, cb c WHERE c.neighbor_id != q.query_id) s) r
         |WHERE rank <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity.hammingTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
    },

    // Matryoshka (truncated-dimension) retrieval: exact cosine top-k over
    // only the FIRST 16 of 64 dimensions — the adaptive-retrieval trick for
    // prefix-trained embeddings (4× less compute/bandwidth per candidate;
    // re-rank survivors at full width). Same broadcast-queries plan; the
    // twin slices the list before the dot product.
    QEntry.sql(
      "ann_matryoshka_topk",
      """SELECT query_id, neighbor_id, cos, rank FROM (
        |  SELECT query_id, neighbor_id, cos,
        |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
        |      AS BIGINT) AS rank
        |  FROM (
        |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |      round(list_dot_product(q.e, c.e) /
        |            (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6)
        |        AS cos
        |    FROM (SELECT vec_id, list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS e
        |          FROM embeddings WHERE vec_id < 5) q,
        |         (SELECT vec_id, list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS e
        |          FROM embeddings) c
        |    WHERE c.vec_id != q.vec_id) s) r WHERE rank <= 10"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val truncated = embeddings(s, d)
        .select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
      Similarity
        .bruteForceTopK(truncated, truncated.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .withColumn("rank", col("rank").cast("bigint"))
    },

    // ANN index evaluation: recall@10 of the LSH top-k against the exact
    // brute-force top-k, per query. The twin recomputes both retrievals
    // (bucketsSql regenerates the md5 hyperplanes) and joins them.
    QEntry.sql(
      "ann_recall_eval",
      s"""WITH ${bucketsSql(bits = 4)},
         |bf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      round(list_dot_product(q.e, c.e) /
         |            (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6)
         |        AS cos
         |    FROM (SELECT * FROM vecs WHERE vec_id < 5) q, vecs c
         |    WHERE c.vec_id != q.vec_id) s) r WHERE rank <= 10),
         |ap AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      round(list_dot_product(q.e, c.e) /
         |            (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6)
         |        AS cos
         |    FROM (SELECT * FROM buckets WHERE vec_id < 5) q
         |    JOIN buckets c ON q.bucket = c.bucket AND c.vec_id != q.vec_id) s) r
         |  WHERE rank <= 10),
         |hits AS (SELECT bf.query_id, count(*) AS hits
         |  FROM bf JOIN ap ON bf.query_id = ap.query_id AND bf.neighbor_id = ap.neighbor_id
         |  GROUP BY bf.query_id)
         |SELECT q.query_id, COALESCE(hits.hits, 0) AS hits,
         |  COALESCE(hits.hits, 0) / 10.0 AS recall
         |FROM (SELECT DISTINCT query_id FROM bf) q LEFT JOIN hits USING (query_id)"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
      val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      val ap =
        Similarity.lshTopK(emb, queries, "vec_id", "embedding", 10, bits = 4, dim = EmbDim)
      Similarity.recallAtK(bf, ap, 10)
    },

    // LSH banding S-curve for the PRODUCTION MinHash config (r=2 rows/band,
    // b=4 bands): P(candidate | Jaccard s) = 1 − (1 − s²)⁴ tabulated over a
    // 5%-step similarity grid — the tuning table that justifies (b, r)
    // before a 100 TB dedup run (threshold ≈ (1/b)^(1/r) = 0.5 here, where
    // the curve crosses ~0.68). Powers written as explicit multiplication
    // chains so both engines execute the identical correctly-rounded IEEE
    // steps; probabilities floored to ppm.
    QEntry.sql(
      "dedup_lsh_curve",
      """SELECT i, CAST(i * 50000 AS BIGINT) AS s_ppm,
        |  CAST(floor((1 - ((1 - (CAST(i AS DOUBLE) / 20) * (CAST(i AS DOUBLE) / 20))
        |    * (1 - (CAST(i AS DOUBLE) / 20) * (CAST(i AS DOUBLE) / 20)))
        |    * ((1 - (CAST(i AS DOUBLE) / 20) * (CAST(i AS DOUBLE) / 20))
        |    * (1 - (CAST(i AS DOUBLE) / 20) * (CAST(i AS DOUBLE) / 20)))) * 1000000)
        |    AS BIGINT) AS p_candidate_ppm
        |FROM (SELECT CAST(unnest(range(0, 21)) AS BIGINT) AS i)"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val sCol = col("i").cast("double") / lit(20.0)
      val q = lit(1.0) - sCol * sCol
      val p = lit(1.0) - (q * q) * (q * q)
      s.range(0, 21)
        .toDF("i")
        .select(
          col("i"),
          (col("i") * 50000L).cast("long").as("s_ppm"),
          floor(p * lit(1000000.0)).cast("long").as("p_candidate_ppm")
        )
    },

    // Scalar-quantization (int8) recall@10 against the exact brute-force
    // ranking — the measured-accuracy eval for the THIRD sketch path beside
    // LSH (ann_recall_eval) and PQ: dequantized-cosine scores collapse to
    // dot_int/(√qq·√cc) over exact BIGINT dots (per-vector scales cancel),
    // so approximate and exact rankings are both bit-deterministic and the
    // recall is an exact count.
    QEntry.sql(
      "ann_sq_recall",
      s"""WITH vecs AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         |  FROM embeddings),
         |bf AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      round(list_dot_product(q.e, c.e) /
         |            (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e))), 6)
         |        AS cos
         |    FROM (SELECT * FROM vecs WHERE vec_id < 5) q, vecs c
         |    WHERE c.vec_id != q.vec_id) s) r WHERE rank <= 10),
         |q8 AS (SELECT vec_id,
         |    CASE WHEN mx = 0 THEN list_transform(e, x -> CAST(0 AS BIGINT))
         |         ELSE list_transform(e, x -> CAST(floor(x * 127.0 / mx + 0.5) AS BIGINT)) END AS qv
         |  FROM (SELECT vec_id, e, list_max(list_transform(e, v -> abs(v))) AS mx
         |        FROM vecs) t),
         |qn AS (SELECT vec_id, qv,
         |    CAST(list_sum(list_transform(range(1, 65), i ->
         |      qv[CAST(i AS INT)] * qv[CAST(i AS INT)])) AS BIGINT) AS nn FROM q8),
         |ap AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos_q8 DESC, neighbor_id) AS rank
         |  FROM (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      CASE WHEN q.nn > 0 AND c.nn > 0 THEN
         |        round(CAST(list_sum(list_transform(range(1, 65), i ->
         |            q.qv[CAST(i AS INT)] * c.qv[CAST(i AS INT)])) AS DOUBLE) /
         |          (sqrt(CAST(q.nn AS DOUBLE)) * sqrt(CAST(c.nn AS DOUBLE))), 6)
         |      ELSE -2.0 END AS cos_q8
         |    FROM (SELECT * FROM qn WHERE vec_id < 5) q, qn c
         |    WHERE c.vec_id != q.vec_id) s) r WHERE rank <= 10),
         |hits AS (SELECT bf.query_id, count(*) AS hits
         |  FROM bf JOIN ap ON bf.query_id = ap.query_id AND bf.neighbor_id = ap.neighbor_id
         |  GROUP BY bf.query_id)
         |SELECT q.query_id, COALESCE(hits.hits, 0) AS hits,
         |  COALESCE(hits.hits, 0) / 10.0 AS recall
         |FROM (SELECT DISTINCT query_id FROM bf) q LEFT JOIN hits USING (query_id)"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
      val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      val ap = Similarity.int8TopK(emb, queries, "vec_id", "embedding", 10)
      Similarity.recallAtK(bf, ap, 10)
    },

    // Pairwise cosine between per-label embedding centroids — the cluster-
    // separation diagnostic over a labeled corpus. Float sums are order-
    // dependent, so every per-dimension element is quantized to
    // DECIMAL(18,10) and summed EXACTLY (order-free); the mean's 1/n cancels
    // in cosine, so centroids never need a division — cos(centroid_a,
    // centroid_b) = dot(sum_a, sum_b) / (‖sum_a‖·‖sum_b‖), with decimal-
    // exact dots and norms; the output rounds to 9 because the DECIMAL(38,20)
    // → double conversion goes through an int128 whose two-step rounding in
    // DuckDB can miss Spark's by an ulp (DETERMINISM.md's over-2^53 rule).
    // Shapes: posexplode → (label, dim) partial agg (one shuffled row per
    // element, the E63 pattern); the 64-row-per-label sums table is
    // localCheckpointed before its self-join (ReuseExchange doesn't fire
    // across aliased branches).
    QEntry.sql(
      "emb_group_centroids",
      s"""WITH ex AS (SELECT label,
         |    unnest(list_transform(range(0, $EmbDim),
         |      i -> struct_pack(i := i, v := embedding[i + 1]))) AS t
         |  FROM embeddings),
         |p AS (SELECT label, CAST(t.i AS BIGINT) AS i,
         |    CAST(CAST(t.v AS DOUBLE) AS DECIMAL(18,10)) AS v FROM ex),
         |sums AS (SELECT label, i, CAST(sum(v) AS DECIMAL(18,10)) AS sv,
         |    count(*) AS nv
         |  FROM p GROUP BY label, i),
         |norms AS (SELECT label, CAST(sum(sv * sv) AS DECIMAL(38,20)) AS norm2
         |  FROM sums GROUP BY label),
         |cnts AS (SELECT label, nv AS n FROM sums WHERE i = 0),
         |dots AS (SELECT a.label AS label_a, b.label AS label_b,
         |    CAST(sum(a.sv * b.sv) AS DECIMAL(38,20)) AS dot
         |  FROM sums a JOIN sums b ON a.i = b.i AND a.label < b.label
         |  GROUP BY a.label, b.label)
         |SELECT d.label_a, d.label_b,
         |  CAST(ca.n AS BIGINT) AS n_a, CAST(cb.n AS BIGINT) AS n_b,
         |  round(CAST(d.dot AS DOUBLE) /
         |    (sqrt(CAST(na.norm2 AS DOUBLE)) * sqrt(CAST(nb.norm2 AS DOUBLE))), 9)
         |    AS cos_centroid
         |FROM dots d
         |JOIN norms na ON d.label_a = na.label
         |JOIN norms nb ON d.label_b = nb.label
         |JOIN cnts ca ON d.label_a = ca.label
         |JOIN cnts cb ON d.label_b = cb.label"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val e = embeddings(s, d)
      val sums = e
        .select(col("label"), posexplode(col("embedding")).as(Seq("i", "v")))
        .select(
          col("label"),
          col("i").cast("bigint").as("i"),
          col("v").cast("double").cast("decimal(18,10)").as("v")
        )
        .groupBy("label", "i")
        .agg(sum("v").cast("decimal(18,10)").as("sv"), count(lit(1)).as("nv"))
        .localCheckpoint()
      val norms = sums
        .groupBy("label")
        .agg(sum(col("sv") * col("sv")).cast("decimal(38,20)").as("norm2"))
      // vector count rides the per-dim aggregate (row count at i = 0), so
      // the embeddings table is scanned ONCE
      val cnts = sums.filter(col("i") === 0).select(col("label"), col("nv").as("n"))
      val dots = sums
        .select("label", "i", "sv")
        .toDF("label_a", "i", "sva")
        .join(
          sums.select("label", "i", "sv").toDF("label_b", "i2", "svb"),
          col("i") === col("i2") && col("label_a") < col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(sum(col("sva") * col("svb")).cast("decimal(38,20)").as("dot"))
      dots
        .join(broadcast(norms.select(col("label").as("label_a"), col("norm2").as("_na"))), "label_a")
        .join(broadcast(norms.select(col("label").as("label_b"), col("norm2").as("_nb"))), "label_b")
        .join(broadcast(cnts.select(col("label").as("label_a"), col("n").as("n_a"))), "label_a")
        .join(broadcast(cnts.select(col("label").as("label_b"), col("n").as("n_b"))), "label_b")
        .select(
          col("label_a"),
          col("label_b"),
          col("n_a"),
          col("n_b"),
          round(
            col("dot").cast("double") /
              (sqrt(col("_na").cast("double")) * sqrt(col("_nb").cast("double"))),
            9
          ).as("cos_centroid")
        )
    },

    // Per-dimension variance of the embedding corpus — the "which
    // coordinates carry signal" profile behind dimensionality-reduction
    // / Matryoshka-truncation decisions. Elements quantize to
    // DECIMAL(18,10) (the E145 centroid idiom) so Σv and Σv² are EXACT and
    // order-free; the variance combination runs entirely in double with
    // pinned parenthesization (σ² = Σv²/n − (Σv/n)², no decimal×bigint
    // products whose precision-capping differs between engines), rounded
    // 9 for the DECIMAL→double int128 ulp rule. One posexplode partial
    // agg — 64 output rows at any corpus size.
    QEntry.sql(
      "emb_dim_variance",
      s"""WITH ex AS (SELECT unnest(list_transform(range(0, $EmbDim),
         |      i -> struct_pack(i := i, v := embedding[i + 1]))) AS t
         |  FROM embeddings),
         |p AS (SELECT CAST(t.i AS BIGINT) AS i,
         |    CAST(CAST(t.v AS DOUBLE) AS DECIMAL(18,10)) AS v FROM ex),
         |s AS (SELECT i, CAST(sum(v) AS DECIMAL(18,10)) AS sv,
         |    CAST(sum(CAST(v * v AS DECIMAL(38,20))) AS DECIMAL(38,20)) AS sq,
         |    CAST(count(*) AS BIGINT) AS n FROM p GROUP BY i)
         |SELECT i AS dim, n AS n_vecs,
         |  round(CAST(sq AS DOUBLE) / n
         |    - (CAST(sv AS DOUBLE) / n) * (CAST(sv AS DOUBLE) / n), 9) AS var_pop
         |FROM s""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val p = embeddings(s, d)
        .select(posexplode(col("embedding")).as(Seq("i", "v")))
        .select(
          col("i").cast("bigint").as("i"),
          col("v").cast("double").cast("decimal(18,10)").as("v")
        )
      val st = p
        .groupBy("i")
        .agg(
          sum("v").cast("decimal(18,10)").as("sv"),
          sum((col("v") * col("v")).cast("decimal(38,20)")).cast("decimal(38,20)").as("sq"),
          count(lit(1)).as("n")
        )
      st.select(
        col("i").as("dim"),
        col("n").as("n_vecs"),
        round(
          col("sq").cast("double") / col("n")
            - (col("sv").cast("double") / col("n")) * (col("sv").cast("double") / col("n")),
          9
        ).as("var_pop")
      )
    },

    // Top principal direction of the embedding second-moment matrix by
    // MATRIX-FREE power iteration (2 unrolled rounds from the uniform
    // start 1/8 — exact in binary): w ← M²w0, normalized once at the
    // report. The 64×64 matrix is never materialized — each round is two
    // equi-join + partial-agg passes over the exploded (vec, dim, value)
    // table (re-used via localCheckpoint), which is what makes PCA's
    // leading component tractable at 100 TB: no per-pair explode, no
    // driver linear algebra.
    //
    // Float discipline, learned the hard way: an early draft requantized
    // between stages via round(CAST(x AS DOUBLE), 10) and drifted 1e-10
    // cross-engine — DuckDB's DECIMAL→DOUBLE conversion and fp round()
    // each round once more than Spark's BigDecimal path, and two
    // iterations amplify the boundary flips. This version never leaves
    // DECIMAL until the final normalize: products (18,10)×(19,11) →
    // (38,21) exact, sums exact, inter-stage requantization is a pure
    // DECIMAL round-then-cast (DuckDB's bare decimal downcast TRUNCATES
    // while Spark's rounds HALF_UP — round() first makes both exact
    // half-away-from-zero), and the single double
    // division + sqrt at the end reports at scale 6, where a 1-ulp input
    // difference cannot flip the digit. No between-round normalization —
    // power iteration only needs the direction, and two rounds of pure
    // scaling stay inside the decimal ranges (documented per stage).
    // Sign is pinned by the all-positive start.
    QEntry.sql(
      "emb_power_iteration", {
        def iterSql(wIn: String, k: Int) =
          s"""s$k AS (SELECT e.vec_id,
             |    CAST(round(sum(e.v * w.w), 11) AS DECIMAL(19,11)) AS sv
             |  FROM ex e JOIN $wIn w ON e.i = w.i GROUP BY e.vec_id),
             |w$k AS (SELECT e.i,
             |    CAST(round(sum(e.v * s.sv), 11) AS DECIMAL(19,11)) AS w
             |  FROM ex e JOIN s$k s ON e.vec_id = s.vec_id GROUP BY e.i)"""
        s"""WITH ex AS (SELECT vec_id, CAST(t.i AS BIGINT) AS i,
           |    CAST(CAST(t.v AS DOUBLE) AS DECIMAL(18,10)) AS v
           |  FROM (SELECT vec_id, unnest(list_transform(range(0, $EmbDim),
           |      i -> struct_pack(i := i, v := embedding[i + 1]))) AS t FROM embeddings)),
           |w0 AS (SELECT unnest(range(0, $EmbDim)) AS i, CAST(0.125 AS DECIMAL(19,11)) AS w),
           |${iterSql("w0", 1)},
           |${iterSql("w1", 2)},
           |yq AS (SELECT i, CAST(round(w, 4) AS DECIMAL(18,4)) AS y FROM w2),
           |nn AS (SELECT CAST(sum(CAST(y * y AS DECIMAL(38,8))) AS DECIMAL(38,8)) AS n2
           |  FROM yq)
           |SELECT i AS dim,
           |  round(CAST(y AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)), 6) AS eig_w
           |FROM yq CROSS JOIN nn"""
          .stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val exploded = embeddings(s, d)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
        .select(
          col("vec_id"),
          col("i").cast("bigint").as("i"),
          col("v").cast("double").cast("decimal(18,10)").as("v")
        )
        .localCheckpoint() // two joins per round × two rounds re-read it
      val w0 = s
        .range(0, EmbDim.toLong)
        .select(col("id").as("i"), lit(BigDecimal("0.125")).cast("decimal(19,11)").as("w"))
      def iter(w: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val sPerVec = exploded
          .join(broadcast(w), "i") // w is EmbDim rows — always broadcastable
          .groupBy("vec_id")
          .agg(sum(col("v") * col("w")).cast("decimal(19,11)").as("sv"))
        exploded
          .join(sPerVec, "vec_id") // vec-keyed equi-join, co-partitioned shuffle
          .groupBy("i")
          .agg(sum(col("v") * col("sv")).cast("decimal(19,11)").as("w"))
      }
      val w2 = iter(iter(w0))
      val yq = w2.select(col("i"), col("w").cast("decimal(18,4)").as("y"))
      val nrm = yq.agg(
        sum((col("y") * col("y")).cast("decimal(38,8)")).cast("decimal(38,8)").as("n2")
      )
      yq.crossJoin(broadcast(nrm))
        .select(
          col("i").as("dim"),
          round(col("y").cast("double") / sqrt(col("n2").cast("double")), 6).as("eig_w")
        )
    },

    // Johnson–Lindenstrauss distortion audit: project every embedding
    // 64 → 16 through the fixed ±1 sign matrix [[JlSigns]] and report
    // ‖Pv‖²/(16·‖v‖²) — concentrated near 1 by JL; the audit a pipeline
    // runs before trusting a random projection to pre-shrink vectors for
    // ANN. Entirely narrow per-row array folds (zip_with + aggregate, no
    // explode, no shuffle at all until the parquet write): the projection
    // of 100 TB of vectors is a map-only pass. Determinism: the sign
    // matrix is literal in both plans, and every float op is a
    // fixed-order fold of IEEE ops on identical doubles — bit-identical
    // cross-engine before the courtesy round-4.
    QEntry.sql(
      "emb_jl_distortion", {
        def sl(j: Int) = JlSigns(j).map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
        val pDefs = (0 until JlDim)
          .map(j =>
            s"""list_reduce(list_transform(range(1, 65),
               |  i -> CAST(embedding[CAST(i AS INT)] AS DOUBLE)
               |    * (${sl(j)})[CAST(i AS INT)]), (a, b) -> a + b) AS p$j"""
          )
          .mkString(",\n")
        val pn = (0 until JlDim).map(j => s"p$j * p$j").mkString(" + ")
        s"""WITH p AS (SELECT vec_id,
           |  list_reduce(list_transform(embedding,
           |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (a, b) -> a + b) AS v2,
           |$pDefs
           |FROM embeddings)
           |SELECT vec_id, round(($pn) / (16.0 * v2), 4) AS jl_ratio
           |FROM p WHERE v2 > 0""".stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val pCols = (0 until JlDim).map { j =>
        val arr = JlSigns(j).map(v => if (v > 0) "1.0D" else "-1.0D").mkString("array(", ", ", ")")
        expr(
          s"aggregate(zip_with(embedding, $arr, (a, b) -> CAST(a AS DOUBLE) * b), " +
            "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
        ).as(s"p$j")
      }
      val v2 = expr(
        "aggregate(embedding, CAST(0.0 AS DOUBLE), " +
          "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
      ).as("v2")
      val pn = (0 until JlDim).map(j => s"p$j * p$j").mkString(" + ")
      embeddings(s, d)
        .select((col("vec_id") +: v2 +: pCols): _*)
        .filter(col("v2") > 0)
        .select(col("vec_id"), round(expr(pn) / (lit(16.0) * col("v2")), 4).as("jl_ratio"))
    },

    // One deterministic Lloyd assignment step (k = 8) — the clustering
    // pass a curation pipeline runs to diversity-sample or balance a
    // corpus. Seeds are the 8 md5-smallest vec_ids (TakeOrdered — no
    // global window; the k-row rank window is k-bounded, the
    // weightedTopK precedent), so initialization is reproducible across
    // engines/runs/partitionings with no RNG. Assignment: d² = (x·x −
    // 2·x·c) + c·c with every dot the codegen'd graft_dot kernel (twin:
    // list_dot_product over DOUBLE lists — same left-to-right fold) and
    // the combination parenthesization pinned, so d² is bit-identical
    // and the (d², seed-rank) argmin needs no tolerance. Per-vector
    // windows are 8-row; inertia takes the quantize-9dp → DECIMAL-sum →
    // round-6 ladder. Corpus scan × broadcast seeds: one wide pass, no
    // shuffle beyond the final 8-group agg.
    QEntry.sql(
      "emb_kmeans_step",
      """WITH vecs AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |sd AS (SELECT vec_id AS sid, e AS ce,
        |    row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS r
        |  FROM vecs ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |asg AS (SELECT v.vec_id, s.sid, s.r,
        |    (list_dot_product(v.e, v.e) - 2 * list_dot_product(v.e, s.ce))
        |      + list_dot_product(s.ce, s.ce) AS d2
        |  FROM vecs v CROSS JOIN sd s),
        |best AS (SELECT vec_id, sid, r, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, r) AS rn FROM asg)
        |SELECT CAST(r AS BIGINT) AS centroid_rank, sid AS seed_id,
        |  CAST(count(*) AS BIGINT) AS n_members,
        |  round(CAST(CAST(sum(CAST(round(d2, 9) AS DECIMAL(18,9)))
        |    AS DECIMAL(28,9)) AS DOUBLE), 6) AS inertia
        |FROM best WHERE rn = 1 GROUP BY r, sid"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val vecs = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val sdBase = vecs
        .select(
          col("vec_id").as("sid"),
          col("embedding").as("ce"),
          md5(col("vec_id").cast("string")).as("h")
        )
        .orderBy("h", "sid")
        .limit(8)
      val sd = sdBase.select(
        col("sid"),
        col("ce"),
        row_number()
          .over(Window.partitionBy(pmod(col("sid"), lit(1))).orderBy("h", "sid"))
          .cast("long")
          .as("r")
      )
      val asg = vecs
        .crossJoin(broadcast(sd))
        .select(
          col("vec_id"),
          col("sid"),
          col("r"),
          ((expr("graft_dot(embedding, embedding)")
            - lit(2) * expr("graft_dot(embedding, ce)"))
            + expr("graft_dot(ce, ce)")).as("d2")
        )
      asg
        .withColumn(
          "rn",
          row_number().over(Window.partitionBy("vec_id").orderBy("d2", "r"))
        )
        .filter(col("rn") === 1)
        .groupBy(col("r").as("centroid_rank"), col("sid").as("seed_id"))
        .agg(
          count(lit(1)).as("n_members"),
          round(
            sum(round(col("d2"), 9).cast("decimal(18,9)"))
              .cast("decimal(28,9)")
              .cast("double"),
            6
          ).as("inertia")
        )
    },

    // E152 selective-compaction planner: NEXT-FIT bin packing of undersized
    // files as ONE keyed window, big files exempt (bin -1). The documents
    // listing stands in for a file listing (path = doc_<id>, bytes =
    // n_chars, partition key = source); the twin replays the running-sum
    // shelf formula bin = (cumsum − bytes) // target exactly — all BIGINTs.
    QEntry.sql(
      "pipe_plan_bins",
      """WITH f AS (SELECT source, 'doc_' || CAST(doc_id AS VARCHAR) AS path,
        |    CAST(n_chars AS BIGINT) AS bytes FROM documents),
        |c AS (SELECT source, path, bytes,
        |    sum(CASE WHEN bytes < 500 THEN bytes ELSE 0 END)
        |      OVER (PARTITION BY source ORDER BY bytes DESC, path
        |            ROWS UNBOUNDED PRECEDING) AS cum FROM f),
        |b AS (SELECT source, path, bytes,
        |    CASE WHEN bytes < 500 THEN (cum - bytes) // 500 ELSE -1 END AS bin
        |  FROM c)
        |SELECT source, path, bytes, CAST(bin AS BIGINT) AS bin,
        |  CAST(CASE WHEN bin >= 0
        |    THEN sum(bytes) OVER (PARTITION BY source, bin)
        |    ELSE bytes END AS BIGINT) AS bin_bytes
        |FROM b""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val files = documents(s, d).select(
        col("source"),
        concat(lit("doc_"), col("doc_id").cast("string")).as("path"),
        col("n_chars").cast("long").as("bytes")
      )
      Compaction.planBins(files, Seq("source"), "path", "bytes", targetBytes = 500L)
    },

    // E72 compaction kernel round-trip: write the documents 8-ways, compact
    // into one ~1 GiB-target file via the directory-swap kernel, read the
    // result BACK from disk, and pin content preservation with an order-free
    // md5-prefix checksum plus exact aggregates. The twin computes the same
    // numbers straight from the source table — equal hashes prove the
    // rewrite lost and duplicated nothing; the literal file counts pin the
    // 8 → 1 consolidation itself.
    QEntry.sql(
      "pipe_compaction_roundtrip",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(CAST(sum(CAST(('0x' || substr(md5(concat_ws('|',
        |    CAST(doc_id AS VARCHAR), source, md5(text))), 1, 13)) AS BIGINT))
        |    AS DECIMAL(38,0)) AS VARCHAR) AS checksum,
        |  CAST(8 AS BIGINT) AS n_files_before,
        |  CAST(1 AS BIGINT) AS n_files_after
        |FROM documents""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft-compact").resolve("docs").toString
      documents(s, d).repartition(8).write.mode("overwrite").parquet(dir)
      val (before, after) = Compaction.compactParquet(s, dir, targetBytes = 1L << 30)
      s.read
        .parquet(dir)
        .select(
          col("doc_id"),
          col("source"),
          col("n_chars"),
          conv(
            substring(
              md5(concat_ws("|", col("doc_id").cast("string"), col("source"), md5(col("text")))),
              1, 13
            ),
            16, 10
          ).cast("long").as("_h")
        )
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          sum(col("_h").cast("decimal(38,0)")).cast("decimal(38,0)").cast("string").as("checksum")
        )
        .withColumn("n_files_before", lit(before.toLong))
        .withColumn("n_files_after", lit(after.toLong))
    },

    // E48 batch twin, oracled: the replayable definition of streaming
    // dedup-within-watermark — per (user, event_type), scan events in time
    // order and keep one iff it is ≥ 1 h past the last KEPT event (the
    // streaming state lifecycle: kept state expires horizon after its event
    // time, the next arrival re-admits). One keyed agg to sorted per-key
    // time lists, then a codegen'd fold; the twin replays the identical
    // fold with list_reduce over struct accumulators.
    // Oracle note: the fold state is PACKED into one BIGINT (last_micros ·
    // 1000 + kept_count) because DuckDB 1.0's list_reduce mis-evaluates
    // CASE over STRUCT accumulators when vectorized across many rows
    // (verified: 25/750 keys wrong in the full query, correct row-filtered).
    // Packing is exact: 2024 micros ≈ 1.7e15 → ·1000 ≈ 1.7e18 < 2^63, and
    // kept_count per key stays far under 1000 at any sf.
    QEntry.sql(
      "dedup_within_watermark",
      """WITH l AS (SELECT user_id, event_type,
        |    list_sort(list(epoch_us(ts))) AS xs,
        |    CAST(count(*) AS BIGINT) AS n_events
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, event_type, n_events,
        |  CAST((list_reduce(
        |    list_transform(xs, t -> t * 1000 + 1),
        |    (acc, x) -> CASE WHEN x // 1000 >= acc // 1000 + 3600000000
        |      THEN (x // 1000) * 1000 + (acc % 1000) + 1
        |      ELSE acc END)) % 1000 AS BIGINT) AS n_kept
        |FROM l""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      graft.streaming.StreamingOps
        .horizonDedupCounts(events(s, d), Seq("user_id", "event_type"))
    },

    // E86 exactly-once sink, oracled: drive the idempotent foreachBatch
    // sink with two batches PLUS a replay of batch 0 (the crash-recovery
    // path), read the sink directory back, and hash-match content against
    // the source table — a duplicated or lost row breaks the checksum, so
    // the exactly-once property is pinned by hash, not just by the spec.
    QEntry.sql(
      "pipe_exactly_once_sink",
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(CAST(sum(CAST(('0x' || substr(md5(concat_ws('|',
        |    CAST(doc_id AS VARCHAR), source, md5(text))), 1, 13)) AS BIGINT))
        |    AS DECIMAL(38,0)) AS VARCHAR) AS checksum
        |FROM documents""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft-sink").resolve("out").toString
      val sink = graft.streaming.StreamingOps.idempotentAppend(dir)
      val docs = documents(s, d).select("doc_id", "source", "n_chars", "text")
      val b0 = docs.filter(col("doc_id") % 2 === 0)
      sink(b0, 0L)
      sink(docs.filter(col("doc_id") % 2 === 1), 1L)
      sink(b0, 0L) // epoch replay after a simulated failure — must be a no-op
      s.read
        .parquet(dir)
        .select(
          col("doc_id"),
          col("source"),
          col("n_chars"),
          conv(
            substring(
              md5(concat_ws("|", col("doc_id").cast("string"), col("source"), md5(col("text")))),
              1, 13
            ),
            16, 10
          ).cast("long").as("_h")
        )
        .agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"),
          sum(col("_h").cast("decimal(38,0)")).cast("decimal(38,0)").cast("string").as("checksum")
        )
    },

    // E250 incremental aggregate maintenance: per-(status, year) order
    // aggregates computed as merge(state(history), state(delta)) — the
    // O(delta)-per-run pipeline shape — hash-matched against the oracle's
    // FULL recompute over the whole table. The identity merge∘state ≡
    // state∘union is what lets a daily job over a 100 TB fact table touch
    // only the new partition; sums in exact integer cents (decimal-cast
    // before the ×100, the repo's FP-safe money idiom), avg finalized from
    // the state as sum div cnt (truncating — Spark div ≡ DuckDB //).
    QEntry.sql(
      "pipe_incr_agg",
      """SELECT o_orderstatus AS status,
        |  CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_units,
        |  CAST(min(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS min_units,
        |  CAST(max(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS max_units,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    // count(*) AS BIGINT) AS avg_units
        |FROM orders GROUP BY 1, 2""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val base = orders(s, d).select(
        col("o_orderstatus").as("status"),
        year(col("o_orderdate").cast("date")).cast("long").as("yr"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").as("cents"),
        col("o_orderdate").cast("date").as("od")
      )
      val keys = Seq("status", "yr")
      val history = IncrementalAgg.state(base.filter(col("od") < "1997-01-01"), keys, "cents")
      val delta = IncrementalAgg.state(base.filter(col("od") >= "1997-01-01"), keys, "cents")
      IncrementalAgg.finalize(IncrementalAgg.merge(Seq(history, delta), keys), keys)
    },

    // E256 signed-units IVM finalize: the same merge∘state pipeline over a
    // SIGNED cents column (returned lineitems negated — the refund-ledger
    // shape), keyed by returnflag so the 'R' group's sum is strictly
    // negative and its inexact division exercises the engine-vs-oracle
    // division-semantics boundary. Pins that avg_units truncates toward
    // zero on BOTH engines (Spark `div` ≡ DuckDB `//`): an avg that floored
    // would hash-mismatch here by exactly 1 on the negative group — this
    // entry exists because an earlier finalize() did floor, justified by a
    // wrong claim about DuckDB, and nothing in the all-positive
    // pipe_incr_agg could catch it.
    QEntry.sql(
      "pipe_incr_agg_signed",
      """SELECT l_returnflag AS rflag,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(sc) AS BIGINT) AS sum_units,
        |  CAST(min(sc) AS BIGINT) AS min_units,
        |  CAST(max(sc) AS BIGINT) AS max_units,
        |  CAST(sum(sc) // count(*) AS BIGINT) AS avg_units
        |FROM (SELECT l_returnflag,
        |        CASE WHEN l_returnflag = 'R' THEN
        |          -CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |        ELSE CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |        END AS sc
        |      FROM lineitem) t
        |GROUP BY 1""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val cents = (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
      val base = lineitem(s, d).select(
        col("l_returnflag").as("rflag"),
        when(col("l_returnflag") === "R", -cents).otherwise(cents).as("sc"),
        col("l_linenumber")
      )
      val keys = Seq("rflag")
      val history = IncrementalAgg.state(base.filter(col("l_linenumber") <= 3), keys, "sc")
      val delta = IncrementalAgg.state(base.filter(col("l_linenumber") > 3), keys, "sc")
      IncrementalAgg.finalize(IncrementalAgg.merge(Seq(history, delta), keys), keys)
    },

    // E275 delta-JOIN view maintenance: the orders × customers view kept
    // current under insert-only deltas on BOTH sides via the bag-algebra
    // derivative ΔV = ΔR⋈S ∪ R⋈ΔS ∪ ΔR⋈ΔS — both big-side terms broadcast
    // the delta, so history is scanned but never shuffled and the full join
    // never re-runs. The oracle recomputes the whole join from scratch, so
    // the hash match IS the identity V_old ∪ ΔV ≡ (R∪ΔR) ⋈ (S∪ΔS) —
    // including the ΔR⋈ΔS corner (a new order referencing a customer that
    // arrived in the same delta, the term naive "join each delta against
    // old" maintenance drops).
    QEntry.sql(
      "pipe_delta_join",
      """SELECT o_orderkey, o_custkey AS custkey, c_mktsegment AS segment,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |FROM orders JOIN customer ON o_custkey = c_custkey"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val r = orders(s, d).select(
        col("o_orderkey"),
        col("o_custkey").as("custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").as("cents")
      )
      val cust = customer(s, d)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment").as("segment"))
      val rOld = r.filter(col("o_orderkey") % 10 < 9)
      val rDelta = r.filter(col("o_orderkey") % 10 === 9)
      val sOld = cust.filter(col("custkey") % 10 < 9)
      val sDelta = cust.filter(col("custkey") % 10 === 9)
      rOld
        .join(sOld, "custkey") // V_old — materialized once, before the deltas
        .unionByName(IncrementalAgg.deltaJoin(rOld, rDelta, sOld, sDelta, Seq("custkey")))
        .select("o_orderkey", "custkey", "segment", "cents")
    },

    // E289 delta-join maintenance WITH DELETIONS: the same view advanced
    // under a churn delta — inserts (+1) AND deletes (−1) on both sides,
    // including orders whose customer is deleted in the same delta (the
    // compound case whose three derivative terms must cancel
    // algebraically: −1 −1 +1 = −1). The oracle recomputes the join over
    // the post-churn tables from scratch, so the hash match pins
    // applySignedDelta(V_old, ΔV) ≡ (R ∖ D_R ∪ I_R) ⋈ (S ∖ D_S ∪ I_S).
    QEntry.sql(
      "pipe_delta_join_signed",
      """SELECT o_orderkey, o_custkey AS custkey, c_mktsegment AS segment,
        |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE ((o_orderkey % 10 < 9 AND o_orderkey % 17 != 0) OR o_orderkey % 10 = 9)
        |  AND ((c_custkey % 10 < 9 AND c_custkey % 23 != 0) OR c_custkey % 10 = 9)"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val r = orders(s, d).select(
        col("o_orderkey"),
        col("o_custkey").as("custkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").as("cents")
      )
      val cust = customer(s, d)
        .select(col("c_custkey").as("custkey"), col("c_mktsegment").as("segment"))
      val rOld = r.filter(col("o_orderkey") % 10 < 9)
      val sOld = cust.filter(col("custkey") % 10 < 9)
      val rDelta = r.filter(col("o_orderkey") % 10 === 9).withColumn("mult", lit(1L))
        .unionByName(rOld.filter(col("o_orderkey") % 17 === 0).withColumn("mult", lit(-1L)))
      val sDelta = cust.filter(col("custkey") % 10 === 9).withColumn("mult", lit(1L))
        .unionByName(sOld.filter(col("custkey") % 23 === 0).withColumn("mult", lit(-1L)))
      val vOld = rOld.join(sOld, "custkey").select("o_orderkey", "custkey", "segment", "cents")
      IncrementalAgg
        .applySignedDelta(
          vOld,
          IncrementalAgg.deltaJoinSigned(rOld, rDelta, sOld, sDelta, Seq("custkey"))
            .select("o_orderkey", "custkey", "segment", "cents", "mult"))
        .select("o_orderkey", "custkey", "segment", "cents")
    },

    // E290 retractable aggregate state: per-(status, year) order aggregates
    // maintained under DELETIONS — (count, sum) are group homomorphisms,
    // so a retraction is a −1-multiplicity partial and merge stays plain
    // re-aggregation; min/max are deliberately absent (not retractable —
    // removing the current extremum needs a keyed re-scan, the documented
    // fallback). Fully-retracted groups leave the state entirely. Oracle:
    // full recompute over the post-deletion facts.
    QEntry.sql(
      "pipe_incr_agg_retract",
      """SELECT o_orderstatus AS status,
        |  CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS yr,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS sum_units,
        |  CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    // count(*) AS BIGINT) AS avg_units
        |FROM orders WHERE o_orderkey % 17 != 0 GROUP BY 1, 2"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val base = orders(s, d).select(
        col("o_orderstatus").as("status"),
        year(col("o_orderdate").cast("date")).cast("long").as("yr"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").as("cents"),
        col("o_orderkey")
      )
      val keys = Seq("status", "yr")
      val full = IncrementalAgg
        .signedState(base.withColumn("mult", lit(1L)), keys, "cents", "mult")
      val retraction = IncrementalAgg
        .signedState(
          base.filter(col("o_orderkey") % 17 === 0).withColumn("mult", lit(-1L)),
          keys, "cents", "mult")
      IncrementalAgg.finalizeSigned(
        IncrementalAgg.mergeSigned(Seq(full, retraction), keys), keys)
    },

    // E295 incremental TOP-K maintenance: each status's five most
    // expensive orders kept as k·|keys| rows of state and advanced by
    // merging the delta's own top-k — any global top-k member is in its
    // slice's top-k, so history is never rescanned. The oracle recomputes
    // the ranking over the whole table, so the hash match IS the
    // merge∘topK ≡ topK∘union identity (the rank-state sibling of
    // pipe_incr_agg's mergeable sums).
    QEntry.sql(
      "pipe_incr_topk",
      """SELECT status, o_orderkey, cents, rank FROM (
        |  SELECT o_orderstatus AS status, o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |    CAST(row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) DESC,
        |               o_orderkey) AS BIGINT) AS rank
        |  FROM orders) t WHERE rank <= 5"""
        .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val base = orders(s, d).select(
        col("o_orderstatus").as("status"),
        col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").as("cents"),
        col("o_orderdate").cast("date").as("od")
      )
      val keys = Seq("status")
      val history = IncrementalAgg
        .topKState(base.filter(col("od") < "1997-01-01"), keys, "cents", "o_orderkey", 5)
      val delta = IncrementalAgg
        .topKState(base.filter(col("od") >= "1997-01-01"), keys, "cents", "o_orderkey", 5)
      IncrementalAgg
        .mergeTopK(Seq(history, delta), keys, "cents", "o_orderkey", 5)
        .select("status", "o_orderkey", "cents", "rank")
    },

    // Deterministic graph ANN (NSW-lite, [[Similarity.nswTopK]]): LSH-table
    // candidate edges → degree-pruned kNN graph → mirrored links → greedy
    // beam search from the min-md5 entry node. The twin regenerates the
    // md5 planes per table, rebuilds the identical graph, and UNROLLS the
    // fixed hop count as chained CTEs — every beam cut tie-broken
    // (cos desc, node_id) on both engines.
    QEntry.sql(
      "ann_graph_topk",
      nswSearchSql(hops = NswHops, beam = NswBeam) +
        s""" SELECT query_id, node_id AS neighbor_id, cos,
           |  CAST(row_number() OVER (PARTITION BY query_id
           |    ORDER BY cos DESC, node_id) AS BIGINT) AS rank
           |FROM f$NswHops WHERE node_id != query_id
           |QUALIFY rank <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity
        .nswTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, dim = EmbDim)
        .withColumn("rank", col("rank").cast("bigint"))
    },

    // E388 hierarchical (HNSW-style) graph-ANN search ([[Similarity.nswTopK]]
    // with levels = 2): a coarse md5-sampled 1/16 level with its own
    // pruned NSW graph is walked first with a tiny beam (2 hops, beam 4),
    // and each query's best coarse node seeds the full-graph walk —
    // replacing the flat search's single global entry, whose first hops are
    // spent TRAVELING to the query's region (cost that grows with graph
    // diameter at corpus scale). The twin rebuilds BOTH levels and unrolls
    // both ladders; queries whose coarse walk yields only themselves fall
    // back to the coarse entry, replayed by the twin's COALESCE.
    QEntry.sql(
      "ann_hnsw_topk",
      nswHierarchicalSql +
        s""" SELECT query_id, node_id AS neighbor_id, cos,
           |  CAST(row_number() OVER (PARTITION BY query_id
           |    ORDER BY cos DESC, node_id) AS BIGINT) AS rank
           |FROM h$NswHops WHERE node_id != query_id
           |QUALIFY rank <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      Similarity
        .nswTopK(
          emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10, dim = EmbDim,
          levels = 2)
        .withColumn("rank", col("rank").cast("bigint"))
    },

    // E396 persisted hierarchical NSW index lifecycle ([[Similarity
    // .buildNswIndexVersioned/appendNswIndexVersioned]] with levels = 2, read
    // by [[Similarity.nswTopKFromCommitted]]): both levels live in ONE
    // committed snapshot tagged by lvl, so version semantics, diff and time
    // travel apply to the pair atomically — a reader can never see a full
    // graph without its matching coarse level. Build on the evens as
    // v1, frozen-plane-append the odds as v2 (batch coarse members prune
    // against the combined coarse set; existing nodes never re-pruned on
    // either level), answer from the committed snapshot. The twin replays
    // all FOUR prune stages (A/B per level) and both beam ladders.
    QEntry.sql(
      "ann_hnsw_index_fetch",
      nswCoreSql + ", " + nswHierSplitEdgesSql + ", " + nswHierSearchTailSql +
        s""" SELECT query_id, node_id AS neighbor_id, cos,
           |  CAST(row_number() OVER (PARTITION BY query_id
           |    ORDER BY cos DESC, node_id) AS BIGINT) AS rank
           |FROM h$NswHops WHERE node_id != query_id
           |QUALIFY rank <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      val root = SharedBuild.dir(s, d, "hnswidx") { base =>
        val hnsw = s"$base/hnsw"
        val evens = emb.filter(col("vec_id") % 2 === 0)
        val odds = emb.filter(col("vec_id") % 2 === 1)
        Similarity.buildNswIndexVersioned(evens, "vec_id", "embedding", hnsw, "builder",
          dim = EmbDim, levels = 2)
        Similarity.appendNswIndexVersioned(evens, odds, "vec_id", "embedding", hnsw,
          "ingest", dim = EmbDim, levels = 2)
      } + "/hnsw"
      Similarity
        // hierarchyMinNodes PINNED to 0: the DuckDB twin replays the
        // hierarchical descent, so the small-corpus flat-walk gate (the
        // production default) must not engage here
        .nswTopKFromCommitted(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          root, 10, hierarchyMinNodes = 0L)
        .withColumn("rank", col("rank").cast("bigint"))
    },

    // Persisted NSW graph index lifecycle on the COMMIT PROTOCOL
    // ([[Similarity.buildNswIndexVersioned/appendNswIndexVersioned]], one
    // level, read by [[Similarity.nswTopKFromCommitted]]):
    // build on the even vec_ids as version 1, frozen-plane-append the odds
    // as version 2 (batch nodes pruned against old ∪ batch; existing nodes
    // never re-pruned — their mirrored in-edges absorb the insert), then
    // answer from the committed snapshot. The twin replays BOTH prune
    // stages and the identical beam walk.
    QEntry.sql(
      "ann_graph_index_fetch",
      nswCoreSql + ", " + nswSplitEdgesSql + ", " + nswSearchTailSql + ", " +
        nswHopsSql(NswHops, NswBeam) +
        s""" SELECT query_id, node_id AS neighbor_id, cos,
           |  CAST(row_number() OVER (PARTITION BY query_id
           |    ORDER BY cos DESC, node_id) AS BIGINT) AS rank
           |FROM f$NswHops WHERE node_id != query_id
           |QUALIFY rank <= 10""".stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      val root = SharedBuild.dir(s, d, "nswidx") { base =>
        val nsw = s"$base/nsw"
        val evens = emb.filter(col("vec_id") % 2 === 0)
        val odds = emb.filter(col("vec_id") % 2 === 1)
        Similarity.buildNswIndexVersioned(evens, "vec_id", "embedding", nsw, "builder",
          dim = EmbDim)
        Similarity.appendNswIndexVersioned(evens, odds, "vec_id", "embedding", nsw, "ingest",
          dim = EmbDim)
      } + "/nsw"
      Similarity
        .nswTopKFromCommitted(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          root, 10)
        .withColumn("rank", col("rank").cast("bigint"))
    },

    // Commit-protocol transition audit ([[IndexCommit.diffVersions]]) on
    // the one-level NSW index ([[Similarity.buildNswIndexVersioned]], whose
    // untagged snapshot is the diffed schema): build evens (v1), append
    // odds (v2), diff — the added set is EXACTLY the append's delta (every
    // new edge touches an odd node, so no base row changes and 'removed' is
    // empty); the twin replays the batch prune stage + mirror alone.
    QEntry.sql(
      "ann_graph_index_diff",
      nswCoreSql + ", " + nswPruneStageSql("prB", "a.vec_id % 2 = 1") +
        """, added AS (SELECT src, dst, max(cos) AS cos FROM (
          |  SELECT src, dst, cos FROM prB
          |  UNION ALL SELECT dst AS src, src AS dst, cos FROM prB) u
          |GROUP BY src, dst)
          |SELECT src, dst, cos, 'added' AS change FROM added"""
          .stripMargin.replaceAll("\\s+", " ")
    ) { (s, d) =>
      val emb = embeddings(s, d)
      val root = SharedBuild.dir(s, d, "nswidx") { base =>
        val nsw = s"$base/nsw"
        val evens = emb.filter(col("vec_id") % 2 === 0)
        val odds = emb.filter(col("vec_id") % 2 === 1)
        Similarity.buildNswIndexVersioned(evens, "vec_id", "embedding", nsw, "builder",
          dim = EmbDim)
        Similarity.appendNswIndexVersioned(evens, odds, "vec_id", "embedding", nsw, "ingest",
          dim = EmbDim)
      } + "/nsw"
      graft.operators.IndexCommit.diffVersions(s, root, 1L, 2L)
    },

    // Graph-ANN beam sweep ([[Similarity.nswTopKFromEdges]] on one level):
    // measured recall@10 vs the exact ranking at beam ∈ {8, 16, 32} over
    // one shared graph — the cost/recall curve beside ann_multiprobe_sweep
    // (probes) and ann_ivf_probe_sweep (cells); cost per query is
    // ≤ hops·beam·degree scored candidates.
    QEntry.sql(
      "ann_graph_sweep", {
        def arm(beam: Int) =
          s"""SELECT $beam AS beam, CAST(count(*) AS BIGINT) AS hits FROM (
             |  SELECT query_id, node_id FROM (
             |    SELECT query_id, node_id,
             |      row_number() OVER (PARTITION BY query_id
             |        ORDER BY cos DESC, node_id) AS rk
             |    FROM fb${beam}_$NswHops WHERE node_id != query_id) t
             |  WHERE rk <= 10) ap
             |JOIN bf ON ap.query_id = bf.query_id AND ap.node_id = bf.neighbor_id"""
        (nswGraphSql +
          s""", ${Seq(8, 16, 32).map(b => nswHopsSql(hops = NswHops, beam = b, prefix = s"fb${b}_")).mkString(", ")},
             |bf AS (SELECT query_id, neighbor_id FROM (
             |  SELECT q.query_id, c.vec_id AS neighbor_id,
             |    row_number() OVER (PARTITION BY q.query_id
             |      ORDER BY round(list_dot_product(q.qe, c.e) / (q.qn * c.n), 6) DESC,
             |               c.vec_id) AS rank
             |  FROM q JOIN nv c ON c.vec_id != q.query_id) r WHERE rank <= 10),
             |sw AS (${arm(8)} UNION ALL ${arm(16)} UNION ALL ${arm(32)})
             |SELECT beam, hits, CAST(hits * 1000000 // 50 AS BIGINT) AS recall_ppm
             |FROM sw""").stripMargin.replaceAll("\\s+", " ")
      }
    ) { (s, d) =>
      val emb = embeddings(s, d)
      val queries = emb.filter(col("vec_id") < 5)
      val bf = Similarity
        .bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
      val edges = Similarity
        .buildNswEdges(emb, "vec_id", "embedding", dim = EmbDim)
        .select("src", "dst")
        .localCheckpoint()
      // the three beam arms are INDEPENDENT searches over one shared graph:
      // built concurrently (guide §2.6 — overlap independent jobs) so one
      // arm's sequential hop barriers back-fill the others' idle cores.
      // Each arm's result is identical to the sequential build (per-arm
      // checkpoint lineage is self-contained and the conf override inside
      // the walk is thread-scoped); the union order is pinned by the Seq.
      val arms = overlapArms(s, SweepTimeout)(Seq(8, 16, 32).map { beam => () =>
        Similarity
          .nswTopKFromEdges(emb, queries, "vec_id", "embedding", Seq(edges), 10,
            beam = beam, hops = NswHops)
          .select("query_id", "neighbor_id")
          .join(bf, Seq("query_id", "neighbor_id"))
          .agg(count(lit(1)).as("hits"))
          .select(
            lit(beam).as("beam"),
            col("hits"),
            expr("hits * 1000000L div 50").cast("long").as("recall_ppm")
          )
      })
      arms.reduce(_ unionByName _)
    }
  )
}

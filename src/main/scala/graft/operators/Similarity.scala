package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorExpressions

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, per the standard ANN playbook:
  *   - [[bruteForceTopK]]: exact cosine top-k — broadcast the (small) query
  *     set against the corpus, rank per query. The baseline and the
  *     verification oracle. Scales in corpus size (narrow scan + broadcast
  *     join, no corpus shuffle) but is O(|corpus|·|queries|·dim) compute.
  *   - [[lshBuckets]] / [[lshTopK]]: random-hyperplane LSH — each vector gets
  *     a b-bit signature (sign of dot with b deterministic hyperplanes);
  *     candidates come from an equi-join on the bucket key, so compute drops
  *     to O(candidates·dim). This is the 100 TB path: bucket key is a
  *     shuffle-friendly scalar, skew is bounded by 2^b buckets, and the
  *     hyperplanes are generated from a seed — no driver-side data motion.
  *
  * The inner product runs through the custom codegen'd Catalyst expression
  * `graft_dot` ([[graft.functions.DotProductFloat]]) — a primitive loop
  * inside WholeStageCodegen, ~50× the interpreted higher-order-function
  * route, with identical left-to-right summation (oracle-stable). Norms are
  * computed once per row, never per pair.
  */
object Similarity {

  /** Sentinel for `bits` meaning AUTO — the DEFAULT on every LSH-bucketed
    * operator here: the hyperplane count is derived from corpus size so the
    * EXPECTED bucket occupancy stays ~[[TargetBucketRows]] rows at any n.
    * A fixed bucket count makes per-bucket candidate work grow with the
    * corpus (quadratically for the corpus×corpus paths — the round-16
    * weak on [[marginMinePairs]]); deriving buckets ∝ n/target makes total
    * candidate volume LINEAR in n by construction, the same reasoning that
    * made [[Dedup.AutoBandDf]] the dedup-family default. Resolving AUTO
    * costs one `count()` pass over the corpus — pass explicit `bits` when
    * the caller already knows the scale (every oracle entry pins bits for
    * engine-portable replay).
    */
  val AutoBits: Int = -1

  /** Auto-bits bucket-occupancy target: buckets = smallest power of two
    * with n/buckets ≤ this. 256 keeps the corpus×corpus paths' per-bucket
    * pair product ≤ ~128² and the broadcast-query paths' per-query
    * candidate list ~256 at any corpus size.
    */
  val TargetBucketRows: Long = 256L

  /** bits for a corpus of `n` vectors under the AUTO rule: the smallest
    * b in [4, 32] with 2^b · [[TargetBucketRows]] ≥ n. Integer-exact (no
    * floating log), so any engine derives the identical value — the
    * DuckDB twin of `emb_margin_mine` replays exactly this scan. The 32
    * ceiling covers n = 1.1e12 vectors (≈ a 100 TB corpus of 256-dim
    * floats) before buckets saturate; plane literals stay ≤ 32·dim floats.
    */
  def autoBits(n: Long): Int =
    (4 to 32).find(b => (1L << b) * TargetBucketRows >= math.max(n, 0L)).getOrElse(32)

  private def resolveBits(requested: Int, n: => Long): Int =
    if (requested != AutoBits) requested else autoBits(n)

  /** Sentinel for [[marginMinePairs]]' `maxBucketDf` meaning AUTO: the
    * hot-bucket skew cap is derived from corpus size as max(64, 16·⌈n^¼⌉)
    * — [[Dedup.AutoBandDf]]'s exact recipe. Auto-bits bounds the EXPECTED
    * bucket size; the cap bounds the worst bucket (duplicate-heavy corpora
    * pile identical vectors into one signature no matter how many planes),
    * keeping the worst single bucket's cross-set product ≤ cap² = Θ(√n).
    * Pass `Long.MaxValue` for exact (uncapped) bucketing.
    */
  val AutoBucketDf: Long = -1L

  private def resolveBucketCap(requested: Long, n: => Long): Long =
    if (requested != AutoBucketDf) requested
    else math.max(
      64L,
      16L * math.ceil(math.pow(math.max(n, 0L).toDouble, 0.25)).toLong)

  /** Cosine similarity between two `array<float>` columns (generic form —
    * the operators below precompute norms instead of calling this per pair).
    */
  def cosine(a: Column, b: Column): Column = {
    def d(c: Column): Column = transform(c, x => x.cast("double"))
    val da = d(a); val db = d(b)
    val dot = aggregate(zip_with(da, db, _ * _), lit(0.0), _ + _)
    val na = sqrt(aggregate(transform(da, x => x * x), lit(0.0), _ + _))
    val nb = sqrt(aggregate(transform(db, x => x * x), lit(0.0), _ + _))
    dot / (na * nb)
  }

  /** (id, vec, norm) projection with the norm computed once via graft_dot. */
  private def withNorm(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      idAs: String,
      vecAs: String,
      normAs: String
  ): DataFrame = {
    VectorExpressions.install(df.sparkSession)
    df.select(col(idCol).as(idAs), col(vecCol).as(vecAs))
      .withColumn(normAs, sqrt(expr(s"graft_dot($vecAs, $vecAs)")))
  }

  private def pairCos(qv: String, nv: String, qn: String, nn: String): Column =
    round(expr(s"graft_dot($qv, $nv)") / (col(qn) * col(nn)), 6)

  /** Exact top-k neighbors for each query vector. `queries` should be small
    * (it is broadcast); ranking ties break on neighbor id so results are
    * deterministic across engines.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val c = withNorm(corpus, idCol, vecCol, "neighbor_id", "nv", "nn")
    val q = broadcast(withNorm(queries, idCol, vecCol, "query_id", "qv", "qn"))
    val scored = c
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), pairCos("qv", "nv", "qn", "nn").as("cos"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein 1998) —
    * the diversification stage between "top-n most similar" and "k results
    * worth showing/training on": greedily select, per query,
    * argmax over unselected candidates of
    * `λ·rel(cand) − (1−λ)·max_{s∈selected} sim(cand, s)`, so each pick
    * trades relevance against redundancy with what's already picked.
    * step 0 is the plain relevance argmax.
    *
    * Distributed shape: candidates are the exact top-`n` per query (n per
    * query, NOT corpus-sized), their per-query pairwise cosines are one
    * bounded self-join (≤ n² rows per query), and each greedy step is a
    * query-partitioned window argmax over the remainder — every step
    * shuffles ≤ |queries|·n rows on the query id, so a million queries run
    * the same k steps in parallel with no driver participation; the
    * sequential dependency is over k (small), never over data. Per-step
    * localCheckpoint truncates the iterative lineage exactly as the
    * PageRank/beam-search loops do.
    *
    * Determinism: rel and sim are round-6 cosines ([[bruteForceTopK]]'s
    * contract), the MMR score is one rounded double expression, ties break
    * on neighbor id — an external engine replays the greedy bit-for-bit.
    *
    * @return (query_id, neighbor_id, sel_order, mmr) — sel_order 0-based;
    *         mmr at step 0 is the relevance itself
    */
  def mmrRerank(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      n: Int,
      k: Int,
      lambda: Double = 0.7
  ): DataFrame = {
    require(k >= 1 && n >= k, "mmrRerank needs n >= k >= 1")
    VectorExpressions.install(corpus.sparkSession)
    val cand = bruteForceTopK(corpus, queries, idCol, vecCol, n)
      .select(col("query_id"), col("neighbor_id"), col("cos").as("rel"))
      .localCheckpoint()
    val cv = cand.join(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("v")),
      "neighbor_id")
    val a = cv.select(col("query_id"), col("neighbor_id").as("a"), col("v").as("va"))
      .withColumn("na", sqrt(expr("graft_dot(va, va)")))
    val b = cv.select(col("query_id"), col("neighbor_id").as("b"), col("v").as("vb"))
      .withColumn("nb", sqrt(expr("graft_dot(vb, vb)")))
    val pairs = a
      .join(b, Seq("query_id"))
      .filter(col("a") =!= col("b"))
      .select(col("query_id"), col("a"), col("b"), pairCos("va", "vb", "na", "nb").as("sim"))
      .localCheckpoint()
    val wPick = Window.partitionBy("query_id").orderBy(col("_mmr").desc, col("neighbor_id"))
    var selected = cand
      .withColumn("_mmr", round(col("rel"), 6))
      .withColumn("_rn", row_number().over(wPick))
      .filter(col("_rn") === 1)
      .select(col("query_id"), col("neighbor_id"), lit(0L).as("sel_order"), col("_mmr").as("mmr"))
      .localCheckpoint()
    for (step <- 1 until k) {
      val rem = cand.join(
        selected.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"),
        "left_anti")
      val pen = pairs
        .join(
          selected.select(col("query_id"), col("neighbor_id").as("b")),
          Seq("query_id", "b"))
        .groupBy(col("query_id"), col("a").as("neighbor_id"))
        .agg(max("sim").as("_pen"))
      selected = selected
        .unionByName(
          rem
            .join(pen, Seq("query_id", "neighbor_id"), "left")
            .withColumn(
              "_mmr",
              round(lit(lambda) * col("rel") - lit(1 - lambda) * coalesce(col("_pen"), lit(0.0)), 6))
            .withColumn("_rn", row_number().over(wPick))
            .filter(col("_rn") === 1)
            .select(
              col("query_id"),
              col("neighbor_id"),
              lit(step.toLong).as("sel_order"),
              col("_mmr").as("mmr"))
        )
        .localCheckpoint()
    }
    selected
  }

  /** Deterministic pseudo-random hyperplanes: weight (p, i) = the first 8 hex
    * digits of md5("plane|seed|p|i") as a fraction of 2^32, mapped to [-1, 1)
    * and rounded to float. Generated driver-side as literals (b·dim floats —
    * trivially broadcastable). md5 rather than an engine-internal hash so an
    * external engine can regenerate the identical planes from SQL — the
    * DuckDB twins of the ann_lsh_* driver entries do exactly that.
    */
  def hyperplanes(bits: Int, dim: Int, seed: Int = 42): Array[Array[Float]] =
    Array.tabulate(bits, dim) { (p, i) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md
        .digest(s"plane|$seed|$p|$i".getBytes("UTF-8"))
        .take(4)
        .map(b => f"${b & 0xff}%02x")
        .mkString
      ((java.lang.Long.parseLong(hex, 16).toDouble / 4294967296.0) * 2 - 1).toFloat
    }

  /** b-bit LSH bucket signature for each vector: bit p = sign(v · plane_p).
    * Plane dot products run through the codegen'd graft_dot kernel. Each
    * plane is ONE ArrayType literal (`typedLit`), not dim stacked scalar
    * literals wrapped in `array(...)`: the scalar form put bits·dim Literal
    * nodes into every plan that hashes (NSW builds carry tables·bits of
    * these on both join sides), inflating serialized task binaries past the
    * 1 MiB DAGScheduler warning threshold — per-task overhead that
    * multiplies with query fan-out at scale. As a single literal the plane
    * lands in the codegen references array: same generated kernel, ~64×
    * fewer plan nodes.
    */
  def lshBucket(vec: Column, planes: Array[Array[Float]]): Column = {
    val bitCols = planes.map { plane =>
      val dot = call_function("graft_dot", vec, typedLit(plane))
      when(dot >= 0, lit("1")).otherwise(lit("0"))
    }
    concat(bitCols.toIndexedSeq: _*)
  }

  /** Vector dimension: explicit when the caller knows it (no Spark job),
    * probed from the first corpus row otherwise. An empty corpus infers 0
    * planes (empty bucket string) instead of throwing.
    */
  private def dimOf(corpus: DataFrame, vecCol: String, dim: Int): Int =
    if (dim > 0) dim
    else corpus.select(size(col(vecCol))).head(1).headOption.map(_.getInt(0)).getOrElse(0)

  def lshBuckets(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      bits: Int = AutoBits,
      seed: Int = 42,
      dim: Int = 0
  ): DataFrame = {
    VectorExpressions.install(corpus.sparkSession)
    val b = resolveBits(bits, corpus.count())
    corpus.select(
      col(idCol),
      col(vecCol),
      lshBucket(col(vecCol), hyperplanes(b, dimOf(corpus, vecCol, dim), seed)).as("bucket")
    )
  }

  /** Approximate top-k: exact cosine ranking restricted to same-bucket
    * candidates (equi-join on the bucket key → shuffle on a scalar key, the
    * scale path). Recall vs. [[bruteForceTopK]] is asserted in PipelineOpsSpec.
    */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = AutoBits,
      seed: Int = 42,
      dim: Int = 0
  ): DataFrame = {
    VectorExpressions.install(corpus.sparkSession)
    // planes built once and shared by both sides (a dim probe, when needed,
    // runs a single first-row job instead of one per lshBuckets call)
    val planes = hyperplanes(resolveBits(bits, corpus.count()), dimOf(corpus, vecCol, dim), seed)
    val cb = corpus
      .select(
        col(idCol).as("neighbor_id"),
        col(vecCol).as("nv"),
        lshBucket(col(vecCol), planes).as("bucket")
      )
      .withColumn("nn", sqrt(expr("graft_dot(nv, nv)")))
    val qb = broadcast(
      queries
        .select(
          col(idCol).as("query_id"),
          col(vecCol).as("qv"),
          lshBucket(col(vecCol), planes).as("bucket")
        )
        .withColumn("qn", sqrt(expr("graft_dot(qv, qv)")))
    )
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    cb.join(qb, "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), pairCos("qv", "nv", "qn", "nn").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Hard-negative mining for contrastive training (E420) — the batch that
    * actually teaches an embedding model: for each query, the top-k
    * HIGHEST-cosine candidates with a DIFFERENT label (hard negatives —
    * near the query yet wrong, the gradient-rich zone random negatives
    * never supply), with a false-negative guard band `maxCos` dropping
    * candidates so close they're likely mislabeled positives (the standard
    * precaution: a "negative" at cos 0.99 is usually a labeling error that
    * would push the model backwards).
    *
    * Scale shape: identical to [[lshTopK]] — broadcast query side, bucketed
    * candidate equi-join (never all-pairs), partial top-k per query before
    * any exchange; the label inequality and the guard band ride the join
    * filter, so pruning happens before ranking.
    *
    * @return (query_id, neg_id, neg_label, cos, rank) — rank over the
    *         surviving negatives by (cos DESC, neg_id)
    */
  def hardNegatives(
      emb: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int,
      maxCos: Double = 0.99,
      bits: Int = AutoBits,
      seed: Int = 42,
      dim: Int = 0
  ): DataFrame = {
    VectorExpressions.install(emb.sparkSession)
    val planes = hyperplanes(resolveBits(bits, emb.count()), dimOf(emb, vecCol, dim), seed)
    val cb = emb
      .select(
        col(idCol).as("neg_id"),
        col(labelCol).as("neg_label"),
        col(vecCol).as("nv"),
        lshBucket(col(vecCol), planes).as("bucket")
      )
      .withColumn("nn", sqrt(expr("graft_dot(nv, nv)")))
    val qb = broadcast(
      queries
        .select(
          col(idCol).as("query_id"),
          col(labelCol).as("q_label"),
          col(vecCol).as("qv"),
          lshBucket(col(vecCol), planes).as("bucket")
        )
        .withColumn("qn", sqrt(expr("graft_dot(qv, qv)")))
    )
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neg_id"))
    cb.join(qb, "bucket")
      .filter(col("neg_id") =!= col("query_id") && col("neg_label") =!= col("q_label"))
      .select(
        col("query_id"),
        col("neg_id"),
        col("neg_label"),
        pairCos("qv", "nv", "qn", "nn").as("cos")
      )
      .filter(col("cos") <= maxCos)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** CSLS-rescored LSH retrieval (cross-domain similarity local scaling,
    * Conneau et al. 2018 — the hubness correction that made unsupervised
    * bilingual lexicon induction work): csls(q,x) = 2·cos(q,x) − r(q) −
    * r(x), where r(v) is the mean cosine of v to its `kR` nearest
    * neighbors. Hub vectors — close to everything, so they crowd every
    * cosine top-k — carry a large r(x) penalty and drop; isolated true
    * matches rise.
    *
    * Scale shape: candidates AND the r(·) pools are the LSH bucket
    * members of the query buckets only (broadcast bucket-set semi-join →
    * per-bucket pair join) — never corpus×corpus; at serving scale r(x)
    * is computed for retrieved candidates, exactly this plan. The pair
    * frame is built once (localCheckpoint) and reused by the r aggregate
    * and the query scoring. Determinism: per-pair cosine quantizes to
    * 9 dp DECIMAL; r is a DECIMAL sum with one final rounded division;
    * csls = three IEEE ops on already-rounded doubles — bit-identical in
    * any engine.
    *
    * @return (query_id, neighbor_id, cos, r_q, r_x, csls, rank), rank by
    *         csls desc (ties on neighbor id), top `k` per query
    */
  def cslsTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      kR: Int = 10,
      bits: Int = AutoBits,
      seed: Int = 42,
      dim: Int = 0
  ): DataFrame = {
    VectorExpressions.install(corpus.sparkSession)
    val planes = hyperplanes(resolveBits(bits, corpus.count()), dimOf(corpus, vecCol, dim), seed)
    val b = corpus
      .select(
        col(idCol).as("vid"),
        col(vecCol).as("v"),
        lshBucket(col(vecCol), planes).as("bucket")
      )
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
    val qIds = broadcast(queries.select(col(idCol).as("vid")).distinct())
    val qBuckets = broadcast(b.join(qIds, "vid").select("bucket").distinct())
    val mem = b.join(qBuckets, "bucket")
    val pairsAll = mem
      .select(col("bucket"), col("vid").as("ia"), col("v").as("va"), col("nrm").as("na"))
      .join(
        mem.select(col("bucket"), col("vid").as("ib"), col("v").as("vb"), col("nrm").as("nb")),
        Seq("bucket")
      )
      .filter(col("ia") =!= col("ib"))
      .select(
        col("ia"),
        col("ib"),
        round(expr("graft_dot(va, vb)") / (col("na") * col("nb")), 9)
          .cast("decimal(18,9)")
          .as("cos9")
      )
      .localCheckpoint()
    val wR = Window.partitionBy("ia").orderBy(col("cos9").desc, col("ib"))
    val r = pairsAll
      .withColumn("_rn", row_number().over(wR))
      .filter(col("_rn") <= kR)
      .groupBy(col("ia").as("vid"))
      .agg(round(sum(col("cos9")).cast("double") / count(lit(1)), 6).as("r"))
    val wK = Window.partitionBy("query_id").orderBy(col("csls").desc, col("neighbor_id"))
    pairsAll
      .join(broadcast(qIds.withColumnRenamed("vid", "ia")), "ia")
      .join(r.select(col("vid").as("ia"), col("r").as("r_q")), "ia")
      .join(r.select(col("vid").as("ib"), col("r").as("r_x")), "ib")
      .select(
        col("ia").as("query_id"),
        col("ib").as("neighbor_id"),
        round(col("cos9").cast("double"), 6).as("cos"),
        col("r_q"),
        col("r_x"),
        round(lit(2) * col("cos9").cast("double") - col("r_q") - col("r_x"), 6).as("csls")
      )
      .withColumn("rank", row_number().over(wK))
      .filter(col("rank") <= k)
  }

  /** Margin-based bitext pair MINING (E415; Artetxe & Schwenk 2019, the
    * CCMatrix/LASER extraction recipe): given one embedding table holding
    * two disjoint sets (source vs target — two languages, two modalities,
    * two crawls), extract the aligned pairs. Scoring is the DISTANCE margin
    * — cos corrected by both sides' neighborhood density, exactly
    * [[cslsTopK]]'s statistic (margin = 2·cos − r_fwd(a) − r_bwd(b)), which
    * demotes hub vectors that would otherwise pair with everything. The
    * MINING layer on top is what's new: a pair (a, b) is extracted iff b is
    * a's margin-argmax AND a is b's margin-argmax (mutual best — the
    * intersection filter that makes precision usable at corpus scale) and
    * the margin clears `minMargin`.
    *
    * Scale shape: candidate pairs come from the shared LSH buckets (never
    * all-pairs — the same Θ(bucket)² bound as every ANN path here), and the
    * DEFAULTS are scale-safe on BOTH axes: [[AutoBits]] grows the bucket
    * count with the corpus (expected bucket ~[[TargetBucketRows]] rows, so
    * total candidate volume is LINEAR in n instead of the fixed-bucket
    * quadratic), and [[AutoBucketDf]] drops the rare skew bucket hotter
    * than 16·⌈n^¼⌉ on EITHER side before the cross-set join — bounding the
    * worst bucket's pair product at Θ(√n), with the no-silent-caps stderr
    * line so a capped run is distinguishable from an exact one. The two
    * argmax passes are bucket-keyed windows over the candidate table; the
    * mutual filter is one equi-join on (src, tgt). All statistics ride the
    * 9-dp DECIMAL cosine ladder, so extraction is engine-portable — the
    * `emb_margin_mine` DuckDB twin replays the [[autoBits]] scan and the
    * cap HAVING filter value-for-value.
    *
    * @param isSrc boolean Column over `emb` splitting the two sets
    * @param maxBucketDf per-SIDE hot-bucket cap ([[AutoBucketDf]] derives it
    *        from n; `Long.MaxValue` = exact, every bucket joins)
    * @return (src_id, tgt_id, cos, margin) — at most one row per src_id and
    *         per tgt_id (a partial matching, by construction of mutual-best)
    */
  def marginMinePairs(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      isSrc: org.apache.spark.sql.Column,
      kR: Int = 10,
      bits: Int = AutoBits,
      seed: Int = 42,
      dim: Int = 0,
      minMargin: Double = 0.0,
      maxBucketDf: Long = AutoBucketDf
  ): DataFrame = {
    VectorExpressions.install(emb.sparkSession)
    // one count pass resolves both AUTO knobs (skipped when both explicit)
    lazy val nRows = emb.count()
    val planes = hyperplanes(resolveBits(bits, nRows), dimOf(emb, vecCol, dim), seed)
    val bAll = emb
      .select(
        col(idCol).as("vid"),
        col(vecCol).as("v"),
        isSrc.as("is_src"),
        lshBucket(col(vecCol), planes).as("bucket")
      )
      .withColumn("nrm", sqrt(expr("graft_dot(v, v)")))
    val cap = resolveBucketCap(maxBucketDf, nRows)
    val b =
      if (cap == Long.MaxValue) bAll
      else {
        // the hot set is a handful of keys BY CONSTRUCTION of the cap
        // (same collect-and-filter shape as Dedup's band cap — a broadcast
        // anti-join would re-run the df aggregate under both join sides)
        val hot = bAll
          .groupBy("bucket")
          .agg(
            sum(when(col("is_src"), 1L).otherwise(0L)).as("_sdf"),
            sum(when(col("is_src"), 0L).otherwise(1L)).as("_tdf"))
          .filter(col("_sdf") > cap || col("_tdf") > cap)
          .select("bucket")
          .limit(10001)
          .collect()
          .map(_.getString(0))
        if (hot.nonEmpty)
          System.err.println(
            s"[similarity] margin-mine hot-bucket cap (per-side df > $cap) dropped " +
              (if (hot.length > 10000) ">10000" else hot.length.toString) +
              " bucket(s) before the cross-set join; pairs whose ONLY shared " +
              "bucket is hotter than the cap are not candidates " +
              "(pass maxBucketDf = Long.MaxValue for exact bucketing)")
        if (hot.isEmpty) bAll
        else if (hot.length > 10000)
          bAll.join(
            broadcast(bAll.groupBy("bucket")
              .agg(
                sum(when(col("is_src"), 1L).otherwise(0L)).as("_sdf"),
                sum(when(col("is_src"), 0L).otherwise(1L)).as("_tdf"))
              .filter(col("_sdf") > cap || col("_tdf") > cap)
              .select("bucket")),
            Seq("bucket"), "left_anti")
        else bAll.filter(!col("bucket").isin(hot.toIndexedSeq: _*))
      }
    // cross-set candidate pairs within shared buckets
    val pairs = b
      .filter(col("is_src"))
      .select(col("bucket"), col("vid").as("ia"), col("v").as("va"), col("nrm").as("na"))
      .join(
        b.filter(!col("is_src"))
          .select(col("bucket"), col("vid").as("ib"), col("v").as("vb"), col("nrm").as("nb")),
        Seq("bucket")
      )
      .select(
        col("ia"),
        col("ib"),
        round(expr("graft_dot(va, vb)") / (col("na") * col("nb")), 9)
          .cast("decimal(18,9)")
          .as("cos9")
      )
      .localCheckpoint()
    val wFwd = Window.partitionBy("ia").orderBy(col("cos9").desc, col("ib"))
    val rFwd = pairs
      .withColumn("_rn", row_number().over(wFwd))
      .filter(col("_rn") <= kR)
      .groupBy("ia")
      .agg(round(sum(col("cos9")).cast("double") / count(lit(1)), 6).as("r_fwd"))
    val wBwd = Window.partitionBy("ib").orderBy(col("cos9").desc, col("ia"))
    val rBwd = pairs
      .withColumn("_rn", row_number().over(wBwd))
      .filter(col("_rn") <= kR)
      .groupBy("ib")
      .agg(round(sum(col("cos9")).cast("double") / count(lit(1)), 6).as("r_bwd"))
    val scored = pairs
      .join(rFwd, "ia")
      .join(rBwd, "ib")
      .select(
        col("ia"),
        col("ib"),
        round(col("cos9").cast("double"), 6).as("cos"),
        round(lit(2) * col("cos9").cast("double") - col("r_fwd") - col("r_bwd"), 6)
          .as("margin")
      )
    val fwdBest = scored
      .withColumn("_rn",
        row_number().over(Window.partitionBy("ia").orderBy(col("margin").desc, col("ib"))))
      .filter(col("_rn") === 1)
      .drop("_rn")
    val bwdBest = scored
      .withColumn("_rn",
        row_number().over(Window.partitionBy("ib").orderBy(col("margin").desc, col("ia"))))
      .filter(col("_rn") === 1)
      .select(col("ia"), col("ib"))
    fwdBest
      .join(bwdBest, Seq("ia", "ib"))
      .filter(col("margin") >= minMargin)
      .select(col("ia").as("src_id"), col("ib").as("tgt_id"), col("cos"), col("margin"))
  }

  /** Multi-probe LSH top-k (Lv et al., VLDB'07): each query probes its own
    * bucket PLUS the `nProbe − 1` buckets reached by flipping the
    * hyperplane bits with the smallest |margin| (the planes the vector
    * nearly straddles — where its true near-neighbors most likely landed on
    * the other side). Recall rises toward multi-table LSH levels without a
    * second hash table or a bigger index: the corpus side is untouched (one
    * bucket per vector, same signatures, same persisted layout) and only
    * the broadcast QUERY side fans out nProbe-fold, so the candidate join
    * stays a scalar-key equi-join with nProbe× the candidates — not a wider
    * shuffle. Probed buckets are pairwise distinct (each differs from the
    * base in exactly one bit), so no candidate dedup is needed.
    *
    * Margin selection is pure codegen'd expressions: per-plane dots (the
    * graft_dot kernel, in-order double accumulation — bit-identical to the
    * oracle's replay, so the margin ORDER is engine-deterministic,
    * ties broken by plane index), an array_sort over (|dot|, plane)
    * structs, and per-probe conditional bit inversion.
    */
  def lshMultiProbeTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = AutoBits,
      nProbe: Int = 3,
      seed: Int = 42,
      dim: Int = 0
  ): DataFrame = {
    val rBits = resolveBits(bits, corpus.count())
    require(nProbe >= 1 && nProbe <= rBits + 1, s"nProbe must be in [1, bits+1], got $nProbe")
    VectorExpressions.install(corpus.sparkSession)
    val planes = hyperplanes(rBits, dimOf(corpus, vecCol, dim), seed)
    val cb = corpus
      .select(
        col(idCol).as("neighbor_id"),
        col(vecCol).as("nv"),
        lshBucket(col(vecCol), planes).as("bucket")
      )
      .withColumn("nn", sqrt(expr("graft_dot(nv, nv)")))
    val qb = broadcast(multiProbeQuerySide(queries, idCol, vecCol, planes, rBits, nProbe, ""))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    cb.join(qb, "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), pairCos("qv", "nv", "qn", "nn").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Multi-probe LSH top-k against a PERSISTED index ([[buildLshIndex]]) —
    * the probe set meets the index's bucket-partitioned layout: each of a
    * query's nProbe bucket keys names one partition directory, so the
    * candidate fetch is a partition-pruned read of nProbe directories per
    * query, never an index scan. Identical results to
    * [[lshMultiProbeTopK]] over the indexed corpus (pinned in
    * PipelineOpsSpec); `bits`/`seed`/`dim` must match the build.
    */
  def lshMultiProbeTopKFromIndex(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      path: String,
      bits: Int = 8,
      nProbe: Int = 3,
      seed: Int = 42,
      dim: Int = 0
  ): DataFrame = {
    require(nProbe >= 1 && nProbe <= bits + 1, s"nProbe must be in [1, bits+1], got $nProbe")
    VectorExpressions.install(queries.sparkSession)
    val planes = hyperplanes(bits, dimOf(queries, vecCol, dim), seed)
    val cb = ParquetIO.read(queries.sparkSession, path)
    val qb = broadcast(multiProbeQuerySide(queries, idCol, vecCol, planes, bits, nProbe, "b"))
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    cb.join(qb, "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), pairCos("qv", "nv", "qn", "nn").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Shared query side of the multi-probe pair: per-plane dots, the base
    * bucket, the (nProbe − 1) smallest-|margin| bit flips, exploded to one
    * row per (query, probe bucket), with `bucketPrefix` matching the
    * target layout ("" in-memory, "b" for the persisted index's
    * type-safe directory values).
    */
  private def multiProbeQuerySide(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Array[Array[Float]],
      bits: Int,
      nProbe: Int,
      bucketPrefix: String
  ): DataFrame = {
    val withDots = queries
      .select(
        col(idCol).as("query_id") +: col(vecCol).as("qv") +:
          planes.toIndexedSeq.zipWithIndex.map { case (plane, p) =>
            // one ArrayType literal per plane (see lshBucket) — not dim
            // scalar literals — to keep serialized plan size flat
            call_function("graft_dot", col(vecCol), typedLit(plane)).as(s"_d$p")
          }: _*
      )
    val baseBucket = concat((0 until bits).map { p =>
      when(col(s"_d$p") >= 0, lit("1")).otherwise(lit("0"))
    }: _*)
    // planes ranked by how nearly the query straddles them
    val margins = array_sort(
      array((0 until bits).map { p =>
        struct(abs(col(s"_d$p")).as("m"), lit(p).as("p"))
      }: _*)
    )
    def bucketFlippedAt(flipPos: Column): Column = concat((0 until bits).map { p =>
      val bit = when(col(s"_d$p") >= 0, lit("1")).otherwise(lit("0"))
      val inv = when(col(s"_d$p") >= 0, lit("0")).otherwise(lit("1"))
      when(lit(p) === flipPos, inv).otherwise(bit)
    }: _*)
    val probeBuckets = array(
      baseBucket +: (0 until nProbe - 1).map(j =>
        bucketFlippedAt(element_at(margins, j + 1).getField("p"))): _*
    )
    withDots
      .select(col("query_id"), col("qv"), explode(probeBuckets).as("_bk")) // generator first
      .select(
        col("query_id"),
        col("qv"),
        concat(lit(bucketPrefix), col("_bk")).as("bucket")
      )
      .withColumn("qn", sqrt(expr("graft_dot(qv, qv)")))
  }

  /** IVF (inverted-file) approximate top-k — the coarse-quantizer scale path:
    * every `centroidStride`-th corpus vector serves as a deterministic
    * centroid (a production build would k-means; the plan shape is
    * identical); corpus vectors are assigned to their nearest centroid's
    * cell once (broadcast argmax — no corpus shuffle), queries probe their
    * `nProbe` nearest cells, and exact cosine ranking runs only inside the
    * probed cells via an equi-join on the cell id. Compute drops from
    * O(|corpus|·|queries|) to O(|corpus|·|queries|/nlist·nProbe); the cell
    * id is a scalar shuffle key, so the join partitions cleanly at any scale.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroidStride: Int = 37,
      nProbe: Int = 3,
      kmeansIters: Int = 0
  ): DataFrame = {
    VectorExpressions.install(corpus.sparkSession)
    val seed = corpus
      .filter(pmod(col(idCol), lit(centroidStride)) === 0)
      .select(col(idCol).as("cell"), col(vecCol).as("cv"))
      .withColumn("cn", sqrt(expr("graft_dot(cv, cv)")))
    // Optional Lloyd refinement over the stride seed (kmeansIters = 0 keeps
    // the deterministic stride centroids the external oracle replays). Each
    // pass = one broadcast argmax assignment + one element-wise mean: the
    // posexplode/two-level aggregate keeps everything distributed — only the
    // nlist×dim centroid matrix is ever broadcast, nothing collects.
    val centroids = broadcast(
      (1 to kmeansIters).foldLeft(seed)((c, _) => refineCentroids(corpus, idCol, vecCol, c))
    )
    def assign(df: DataFrame, asId: String, asVec: String, probes: Int): DataFrame = {
      val scored = df
        .select(col(idCol).as(asId), col(vecCol).as(asVec))
        .withColumn("_n", sqrt(expr(s"graft_dot($asVec, $asVec)")))
        .crossJoin(centroids)
        .withColumn("_cellCos", expr(s"graft_dot($asVec, cv)") / (col("_n") * col("cn")))
      if (probes == 1) {
        // corpus side: argmax as an AGGREGATE (max over (cos, -cell) ranks
        // exactly like the window's cos DESC, cell ASC) — partial aggregation
        // collapses the ×nlist centroid fan-out map-side, so the shuffle
        // carries one row per vector. The window formulation would shuffle
        // AND sort ×nlist rows — the difference between fine and pathological
        // at 100 TB corpus scale.
        scored
          .groupBy(col(asId))
          .agg(
            max(
              struct(
                col("_cellCos"),
                (-col("cell")).as("_negCell"),
                col(asVec).as("_v"),
                col("_n").as("_nn")
              )
            ).as("_best")
          )
          .select(
            col(asId),
            col("_best._v").as(asVec),
            col("_best._nn").as("_n"),
            (-col("_best._negCell")).as("cell")
          )
      } else {
        // query side: tiny by construction — a window top-nProbe is fine
        val w = Window
          .partitionBy(asId)
          .orderBy(col("_cellCos").desc, col("cell"))
        scored
          .withColumn("_cr", row_number().over(w))
          .filter(col("_cr") <= probes)
          .select(col(asId), col(asVec), col("_n"), col("cell"))
      }
    }
    val corpusCells = assign(corpus, "neighbor_id", "nv", 1)
      .withColumnRenamed("_n", "nn")
    val queryCells = assign(queries, "query_id", "qv", nProbe)
      .withColumnRenamed("_n", "qn")
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    corpusCells
      .join(queryCells, "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), pairCos("qv", "nv", "qn", "nn").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Persist an IVF index with FROZEN centroids — the production IVF ingest
    * contract: the coarse quantizer is fixed at build time (stride
    * centroids here; a re-train is a new build) and persisted beside the
    * vector lists, so [[appendIvfIndex]] can fold a new batch in by
    * assigning it against the frozen centroids — one broadcast argmax over
    * the batch, NO corpus re-assignment. The vector lists are cell-sorted
    * files under replay-idempotent `ingest_id=<j>/`, and a probe's cell
    * filter is pushed into the parquet reader, not a `cell=K/` directory
    * per cell: past 32 leaf directories
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`) every read
    * would list them with a Spark job of one task per directory.
    * [[ivfTopKFromIndex]] answers queries from the on-disk cells alone.
    */
  def buildIvfIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      centroidStride: Int = 37
  ): Unit = {
    VectorExpressions.install(corpus.sparkSession)
    corpus
      .filter(pmod(col(idCol), lit(centroidStride)) === 0)
      .select(col(idCol).as("cell"), col(vecCol).as("cv"))
      .withColumn("cn", sqrt(expr("graft_dot(cv, cv)")))
      .write
      .mode("overwrite")
      .parquet(s"$path/centroids")
    // rebuild may replace read paths under it; before the cell assignment
    // reads the new centroids
    ParquetIO.invalidate(path)
    writeIvfCells(corpus, idCol, vecCol, path, 0L, dynamic = false)
  }

  /** Fold one accepted ingest into a [[buildIvfIndex]] index: assign the
    * batch against the FROZEN persisted centroids (cell boundaries do not
    * move — the IVF ingest semantics every serving system uses between
    * re-trains) and write its cell-sorted files under the ingest's own
    * `ingest_id=<j>/` (dynamic overwrite → replay-idempotent, the
    * `appendMinhashIndex` idiom). An index written in the older
    * `ingest_id=<j>/cell=<K>/` layout is refused before anything is
    * written: a mixed tree fails every later read with conflicting
    * directory structures, so such an index is rebuilt with
    * [[buildIvfIndex]] first.
    */
  def appendIvfIndex(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      ingestId: Long
  ): Unit = {
    require(ingestId > 0L, s"ingest ids start at 1 (0 is the initial build), got $ingestId")
    val oldLayout = new Path(s"$path/cells/ingest_id=*/cell=*")
    val fs = oldLayout.getFileSystem(batch.sparkSession.sessionState.newHadoopConf())
    if (Option(fs.globStatus(oldLayout)).exists(_.nonEmpty))
      throw new IllegalStateException(
        s"IVF index at $path uses the cell=K/ directory layout; rebuild it with buildIvfIndex " +
          "before appending to it")
    writeIvfCells(batch, idCol, vecCol, path, ingestId, dynamic = true)
  }

  private def writeIvfCells(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      ingestId: Long,
      dynamic: Boolean
  ): Unit = {
    VectorExpressions.install(df.sparkSession)
    val cents = broadcast(ParquetIO.read(df.sparkSession, s"$path/centroids"))
    // aggregate-argmax assignment — the ivfTopK corpus-side shape: partial
    // aggregation collapses the ×nlist fan-out map-side
    val assigned = df
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("nn", sqrt(expr("graft_dot(nv, nv)")))
      .crossJoin(cents)
      .withColumn("_cellCos", expr("graft_dot(nv, cv)") / (col("nn") * col("cn")))
      .groupBy(col("neighbor_id"))
      .agg(
        max(
          struct(
            col("_cellCos"),
            (-col("cell")).as("_negCell"),
            col("nv").as("_v"),
            col("nn").as("_nn")
          )
        ).as("_best")
      )
      .select(
        col("neighbor_id"),
        col("_best._v").as("nv"),
        col("_best._nn").as("nn"),
        (-col("_best._negCell")).as("cell")
      )
    // cell order lets row-group min/max skip unprobed cells (a two-cell
    // probe of a 14-row-group file reads 300 of 1400 rows; unsorted, all
    // 1400). ingest_id leads so the writer's partition ordering is met as
    // is, with no second sort over the cell order
    val w = assigned.withColumn("ingest_id", lit(ingestId))
      .sortWithinPartitions(col("ingest_id"), col("cell"))
      .write.mode("overwrite")
    (if (dynamic) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy("ingest_id")
      .parquet(s"$path/cells")
  }

  /** IVF top-k FROM the persisted index: queries probe their nProbe best
    * cells against the frozen centroids, the probe-cell set (nProbe ×
    * |queries| ids, driver-bounded) becomes a `cell IN (…)` filter pushed
    * into the parquet reader of the cell-sorted files under
    * `ingest_id=<j>/`, and exact cosine ranks inside the probed cells only
    * — corpus vectors are read from the index, never recomputed or
    * re-assigned. No `cell=K/` directory per cell: past 32 leaf
    * directories every read would list them with a Spark job of one task
    * per directory. An index in that older layout still answers, `cell`
    * resolving as a partition column.
    *
    * What the scan reads: row-group min/max on `cell` skip the row groups
    * of one file that hold no probed cell, but only while the probe set
    * has at most 10 cells (`spark.sql.parquet.pushdown.inFilterThreshold`;
    * a larger set is pushed as its [min, max] range), and every write task
    * of an ingest leaves a file spanning all the cells it saw. So past one
    * row group, a probe reads more than its cells: on a 1400-vector,
    * 14-row-group file a two-cell probe reads 300 rows where per-cell
    * directories read 103, and 900 against 403 for 8 queries at nProbe 3.
    */
  def ivfTopKFromIndex(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      path: String,
      nProbe: Int = 3
  ): DataFrame = {
    val spark = queries.sparkSession
    VectorExpressions.install(spark)
    val cents = broadcast(ParquetIO.read(spark, s"$path/centroids"))
    val wq = Window.partitionBy("query_id").orderBy(col("_cellCos").desc, col("cell"))
    val queryCells = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("qn", sqrt(expr("graft_dot(qv, qv)")))
      .crossJoin(cents)
      .withColumn("_cellCos", expr("graft_dot(qv, cv)") / (col("qn") * col("cn")))
      .withColumn("_cr", row_number().over(wq))
      .filter(col("_cr") <= nProbe)
      .select(col("query_id"), col("qv"), col("qn"), col("cell"))
      .localCheckpoint() // probe-cell collect + candidate join reuse it
    val probeCells = queryCells.select(col("cell").cast("long"))
      .collect().map(_.getLong(0)).distinct
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    ParquetIO.read(spark, s"$path/cells")
      .filter(col("cell").isin(probeCells.toIndexedSeq: _*))
      .join(broadcast(queryCells), "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), pairCos("qv", "nv", "qn", "nn").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** One Lloyd pass: assign every corpus vector to its nearest current
    * centroid (cosine argmax as a partial-aggregated max — the same 100 TB
    * shape as the IVF corpus assignment), then recompute each cell's centroid
    * as the element-wise mean of its members (posexplode → (cell, pos) avg →
    * array reassembly; two keyed aggregates, no driver-side data motion).
    * Cells that lose every member drop out.
    */
  private def refineCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      cents: DataFrame
  ): DataFrame = {
    val bc = broadcast(cents)
    val assigned = corpus
      .select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .withColumn("_n", sqrt(expr("graft_dot(_v, _v)")))
      .crossJoin(bc)
      .withColumn("_cos", expr("graft_dot(_v, cv)") / (col("_n") * col("cn")))
      .groupBy(col("_id"))
      .agg(max(struct(col("_cos"), (-col("cell")).as("_negCell"), col("_v").as("_mv"))).as("_b"))
      .select((-col("_b._negCell")).as("cell"), col("_b._mv").as("_mv"))
    assigned
      .select(col("cell"), posexplode(col("_mv")).as(Seq("_pos", "_x")))
      .groupBy(col("cell"), col("_pos"))
      .agg(avg(col("_x")).as("_m"))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("_pos"), col("_m")))).as("_pm"))
      .select(
        col("cell"),
        transform(col("_pm"), e => e.getField("_m").cast("float")).as("cv")
      )
      .withColumn("cn", sqrt(expr("graft_dot(cv, cv)")))
  }

  /** Embedding-cosine near-duplicate pairs above `threshold` (id1 < id2).
    *
    * When `blocked`, candidates come from `tables` independent LSH tables
    * (hyperplane sets seeded seed..seed+tables-1) OR-ed together — the
    * standard multi-table trick: a single b-bit table misses any near-dup
    * pair the planes happen to split, while the miss probability decays
    * geometrically in the table count. The pair set is deduplicated BEFORE
    * the cosine computation, so each surviving pair costs one graft_dot no
    * matter how many tables proposed it. All joins are bucket equi-joins
    * (shuffle on a scalar key) — never all-pairs. `blocked = false` is the
    * exact all-pairs verification baseline for small corpora.
    */
  def nearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      blocked: Boolean = true,
      bits: Int = AutoBits,
      dim: Int = 0,
      tables: Int = 1,
      seed: Int = 42
  ): DataFrame = {
    VectorExpressions.install(corpus.sparkSession)
    val vecs = corpus
      .select(col(idCol), col(vecCol))
      .withColumn("_n", sqrt(expr(s"graft_dot($vecCol, $vecCol)")))
    val pairs =
      if (blocked) {
        val d = dimOf(corpus, vecCol, dim)
        val rBits = resolveBits(bits, corpus.count())
        // one row per (vector, table): bucket key prefixed with the table id
        // so the equi-join never matches across tables
        val bucketByTable = array((0 until tables).map { t =>
          concat(lit(s"$t:"), lshBucket(col(vecCol), hyperplanes(rBits, d, seed + t)))
        }: _*)
        val tagged = corpus
          .select(col(idCol), explode(bucketByTable).as("bucket"))
        tagged
          .as("a")
          .join(tagged.as("b"), col("a.bucket") === col("b.bucket"))
          .filter(col(s"a.$idCol") < col(s"b.$idCol"))
          .select(col(s"a.$idCol").as("id1"), col(s"b.$idCol").as("id2"))
          .distinct()
      } else {
        vecs
          .select(col(idCol).as("id1"))
          .crossJoin(vecs.select(col(idCol).as("id2")))
          .filter(col("id1") < col("id2"))
      }
    pairs
      .join(vecs.select(col(idCol).as("id1"), col(vecCol).as("_v1"), col("_n").as("_n1")), "id1")
      .join(vecs.select(col(idCol).as("id2"), col(vecCol).as("_v2"), col("_n").as("_n2")), "id2")
      .select(
        col("id1"),
        col("id2"),
        round(expr("graft_dot(_v1, _v2)") / (col("_n1") * col("_n2")), 6).as("cos")
      )
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster the
    * corpus, then prune near-duplicates ONLY within a cluster — the trick
    * that turns the quadratic all-pairs cosine into per-cluster work bounded
    * by cluster size. Reference scope: extends the reference's exact
    * fragment dedup family (Interface1.py has no embedding ops) with the
    * standard training-data curation pass.
    *
    * Deterministic end to end, no RNG: the `k` cluster seeds are the corpus
    * ids in md5-of-id order (the weightedTopK/kmeans seed-pick precedent),
    * assignment is exact-squared-distance argmin with ties broken by seed
    * rank — d² = (x·x − 2·x·c) + c·c with pinned parenthesization through
    * the codegen'd `graft_dot` kernel, bit-identical cross-engine — and the
    * prune rule is order-free: a vector is removed iff a SMALLER-id member
    * of its cluster has round(cos, 6) ≥ `threshold`. (Deliberately
    * single-level — no transitive chains — so the kept set is independent
    * of evaluation order and the whole operator is one SQL statement for
    * the oracle. The chained policy lives in Dedup.resolveClusters.)
    *
    * Scale shape: the seed table is k rows and broadcast (one wide corpus
    * scan assigns everything); the within-cluster self-join is an equi-join
    * on the cluster id. At 100 TB you raise k so clusters stay ~10³ vectors
    * (k ≈ n/1000 — SemDeDup's own regime, which also keeps the equi-join
    * key cardinality high enough to avoid shuffle skew); k = 8 here only
    * because the test corpus is 500–2000 vectors.
    *
    * @return one row per REMOVED vector: (id, cluster, dup_of, cos) where
    *         dup_of is the smallest-id near-duplicate and cos that pair's
    *         rounded cosine
    */
  def semanticDedup(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 8,
      threshold: Double = 0.35
  ): DataFrame = {
    VectorExpressions.install(corpus.sparkSession)
    val vecs = corpus.select(col(idCol).as("_id"), col(vecCol).as("_v"))
    val seeds = vecs
      .select(col("_id").as("_sid"), col("_v").as("_cv"), md5(col("_id").cast("string")).as("_h"))
      .orderBy("_h", "_sid")
      .limit(k)
      .select(
        col("_sid"),
        col("_cv"),
        // constant-key window over the k-row seed frame (same trick as the
        // kmeans-step entry): rank seeds without a global no-partition window
        row_number()
          .over(Window.partitionBy(pmod(col("_sid"), lit(1))).orderBy("_h", "_sid"))
          .cast("long")
          .as("_r")
      )
    val assigned = vecs
      .crossJoin(broadcast(seeds))
      .select(
        col("_id"),
        col("_v"),
        col("_r"),
        ((expr("graft_dot(_v, _v)") - lit(2) * expr("graft_dot(_v, _cv)"))
          + expr("graft_dot(_cv, _cv)")).as("_d2")
      )
      .withColumn("_rn", row_number().over(Window.partitionBy("_id").orderBy("_d2", "_r")))
      .filter(col("_rn") === 1)
      .select(col("_id"), col("_v"), col("_r"), sqrt(expr("graft_dot(_v, _v)")).as("_n"))
    val a = assigned.select(col("_r"), col("_id").as("_aid"), col("_v").as("_av"), col("_n").as("_an"))
    val b = assigned.select(col("_r"), col("_id").as("_bid"), col("_v").as("_bv"), col("_n").as("_bn"))
    a.join(b, "_r")
      .filter(col("_aid") < col("_bid"))
      .select(
        col("_r"),
        col("_aid"),
        col("_bid"),
        round(expr("graft_dot(_av, _bv)") / (col("_an") * col("_bn")), 6).as("_cos")
      )
      .filter(col("_cos") >= threshold)
      .groupBy(col("_bid"))
      .agg(min(struct(col("_aid"), col("_cos"), col("_r"))).as("_m"))
      .select(
        col("_bid").as(idCol),
        col("_m._r").as("cluster"),
        col("_m._aid").as("dup_of"),
        col("_m._cos").as("cos")
      )
  }

  /** Symmetric int8 quantization of an embedding column — the standard
    * 4× storage/bandwidth shrink before an ANN index is built over a
    * 100 TB vector corpus. Per vector: scale by `127 / max(|x|)` and round
    * via `floor(x·127/m + 0.5)`, which sends exact halves toward +infinity
    * for BOTH signs (63.5→64, −63.5→−63) — a deliberate, deterministic
    * convention (asserted in PipelineOpsSpec), chosen over a round()
    * builtin whose half-way rule differs across engines.
    *
    * Every step is an EXACTLY-specified IEEE operation (float→double widen,
    * multiply, divide, floor, max of abs) — correctly rounded in any
    * conforming engine, so the quantized values are verifiable bit-for-bit
    * cross-engine with no rounding mitigation. A zero vector (max |x| = 0)
    * quantizes to zeros rather than dividing by zero. Narrow per-row
    * column expressions throughout: no shuffle, no UDF; output is exploded
    * to scalar rows only because the verification contract can't hash
    * array columns.
    *
    * @return (id, pos, q, scale_max_abs) — pos is the 0-based component.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val dv = transform(col(vecCol), x => x.cast("double"))
    df.select(
        col(idCol),
        array_max(transform(dv, x => abs(x))).as("_m"),
        posexplode(dv).as(Seq("pos", "_x"))
      )
      .select(
        col(idCol),
        col("pos").cast("bigint").as("pos"),
        when(col("_m") === 0.0, lit(0L))
          .otherwise(floor(col("_x") * lit(127.0) / col("_m") + lit(0.5)))
          .as("q"),
        col("_m").as("scale_max_abs")
      )
  }

  /** Scalar-quantized (int8) approximate top-k: both sides quantized with
    * [[quantizeInt8]]'s arithmetic to whole BIGINT vectors, then ranked by
    * the cosine of the DEQUANTIZED vectors — whose per-vector scale factors
    * cancel algebraically, so the score is dot_int / (√qq_int · √cc_int)
    * over three EXACT integer dot products and exactly two IEEE steps
    * (sqrt, divide): bit-identical cross-engine with an id tie-break, and
    * 4× less memory traffic than the float corpus. The third measured-
    * accuracy sketch path beside LSH buckets and PQ codes.
    */
  def int8TopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    // match quantizeInt8 exactly: floor(x*127/m + 0.5)
    def q8r(df: DataFrame, id: String, out: String): DataFrame = {
      val dv = transform(col(vecCol), x => x.cast("double"))
      val m = array_max(transform(dv, x => abs(x)))
      df.select(
        col(idCol).as(id),
        when(m === 0.0, transform(dv, _ => lit(0L)))
          .otherwise(transform(dv, x => floor(x * lit(127.0) / m + lit(0.5))))
          .as(out)
      )
    }
    def idot(a: String, b: String) =
      expr(s"aggregate(zip_with($a, $b, (x, y) -> x * y), 0L, (acc, v) -> acc + v)")
    val c = q8r(corpus, "neighbor_id", "cv")
      .withColumn("cc", idot("cv", "cv"))
    val q = broadcast(
      q8r(queries, "query_id", "qv").withColumn("qq", idot("qv", "qv"))
    )
    val scored = c
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(
        col("query_id"),
        col("neighbor_id"),
        // zero-norm (all-zero) vectors: 0/0 = NaN, which Spark orders ABOVE
        // every number under DESC — a degenerate vector would top every
        // query's list. Pin them to -2.0 (below any true cosine) instead.
        when(
          col("qq") > 0L && col("cc") > 0L,
          round(
            idot("qv", "cv").cast("double") /
              (sqrt(col("qq").cast("double")) * sqrt(col("cc").cast("double"))),
            6
          )
        ).otherwise(lit(-2.0)).as("cos_q8")
      )
    val w = Window.partitionBy("query_id").orderBy(col("cos_q8").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Int8-quantize ([[quantizeInt8]] arithmetic) and split into `m`
    * sub-vectors: one row per (id, subspace) with the BIGINT sub-vector.
    */
  private def quantizedSubs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      sub: Int,
      asId: String
  ): DataFrame =
    df.select(col(idCol).as(asId), col(vecCol).as("_v"))
      .withColumn("_mx", array_max(transform(col("_v"), x => abs(x.cast("double")))))
      .select(
        col(asId),
        when(col("_mx") === 0.0, transform(col("_v"), _ => lit(0L)))
          .otherwise(
            transform(col("_v"), x => floor(x.cast("double") * lit(127.0) / col("_mx") + lit(0.5)))
          )
          .as("_q")
      )
      .select(
        col(asId),
        posexplode(
          transform(sequence(lit(0), lit(m - 1)), s => slice(col("_q"), s * sub + 1, lit(sub)))
        ).as(Seq("sub", "_sv"))
      )

  /** Add a float mirror of the BIGINT sub-vector plus its self-dot, so
    * squared distances run through the codegen'd `graft_dot` kernel instead
    * of interpreted HOF lambdas in the ×|codebook| hot loop:
    * ‖a−b‖² = ‖a‖² + ‖b‖² − 2⟨a,b⟩. Int8 components (|q| ≤ 127) and their
    * 16-term product sums are far below 2^24, so every float/double step is
    * EXACT — the result is still a bit-identical integer.
    */
  private def withSubFloats(df: DataFrame, vec: String, f: String, sq: String): DataFrame =
    df.withColumn(f, transform(col(vec), x => x.cast("float")))
      .withColumn(sq, expr(s"graft_dot($f, $f)"))

  /** Exact squared distance via the codegen'd kernel (see [[withSubFloats]]);
    * inputs are the self-dots and float mirrors, output is an exact BIGINT.
    */
  private def sqIntDist(sqA: Column, sqB: Column, fA: String, fB: String): Column =
    (sqA + sqB - lit(2.0) * expr(s"graft_dot($fA, $fB)")).cast("long")

  /** Product-quantization (PQ) codes — the memory layout behind
    * billion-vector ANN indexes (IVF-PQ): each vector splits into `m`
    * sub-vectors, each replaced by the id of its nearest codebook entry
    * (dim·4 bytes → m codes). Runs over the int8-QUANTIZED vectors (same
    * arithmetic as [[quantizeInt8]]), so every distance is an exact BIGINT
    * sum of squared integer differences — bit-identical cross-engine, no
    * float ranking. The codebook is every `codebookStride`-th corpus vector
    * (deterministic and externally replayable — the stride-seed convention
    * of [[ivfTopK]]; a production build would k-means-refine it, assignment
    * plan unchanged). Assignment: broadcast the KB-scale sub-codebook,
    * cross-match per subspace, then a partial-aggregated argmin — the
    * shuffle carries one row per (vector, subspace), never the ×|codebook|
    * fan-out. Thin rename over [[pqCodebookAndCodes]], the single
    * implementation every PQ path (direct entry, persisted index, IVF-PQ)
    * shares — the encode arithmetic cannot drift between them.
    *
    * @return (id, sub, code, dist) — `code` is the codebook row's id,
    *         `dist` the exact squared int8 distance in that subspace.
    */
  def pqEncode(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int = 4,
      codebookStride: Int = 31
  ): DataFrame = {
    VectorExpressions.install(corpus.sparkSession)
    val (_, codes) = pqCodebookAndCodes(corpus, idCol, vecCol, m, codebookStride)
    codes.select(
      col("neighbor_id").as(idCol),
      col("sub").cast("bigint").as("sub"),
      col("_code").as("code"),
      col("_dist").as("dist")
    )
  }

  /** PQ approximate top-k — the scan shape of an IVF-PQ index probe: corpus
    * vectors are represented by their m PQ codes ([[pqEncode]]), the query's
    * distance to EVERY codebook entry is tabulated once into a lookup table
    * (|queries|·m·|codebook| rows — KBs), and the approximate distance of a
    * corpus vector is the sum of its m code's LUT entries. The LUT
    * broadcasts; the probe is a broadcast equi-join on (subspace, code) plus
    * a partial-aggregated sum — the shuffle carries one row per
    * (query, corpus vector), and the corpus vectors themselves are never
    * touched after encoding (that is the entire point of PQ at 100 TB: the
    * scan reads m bytes per vector, not dim·4). Quantizing the query too
    * keeps every distance an exact BIGINT (symmetric DC), so ranking is
    * bit-identical cross-engine.
    */
  def pqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 4,
      codebookStride: Int = 31
  ): DataFrame = {
    VectorExpressions.install(corpus.sparkSession)
    val (codes, lut) = pqCodesAndLut(corpus, queries, idCol, vecCol, m, codebookStride)
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    codes
      .join(lut, Seq("sub", "_code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("_pdist")).as("adist"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Corpus PQ codebook (sub, _code, _cvf, _csq) and codes
    * (neighbor_id, sub, _code, _dist) — the one place the codebook build +
    * argmin assignment live; [[pqEncode]], [[buildPqIndex]] and
    * [[pqCodesAndLut]] are all expressed in terms of it.
    */
  private def pqCodebookAndCodes(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      codebookStride: Int
  ): (DataFrame, DataFrame) = {
    val dim = dimOf(corpus, vecCol, 0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    val corpusSubs =
      withSubFloats(quantizedSubs(corpus, idCol, vecCol, m, sub, "_id"), "_sv", "_svf", "_ssq")
    val codebook =
      corpusSubs
        .filter(pmod(col("_id"), lit(codebookStride)) === 0)
        .select(col("_id").as("_code"), col("sub"), col("_svf").as("_cvf"), col("_ssq").as("_csq"))
    val codes = corpusSubs
      .join(broadcast(codebook), "sub")
      .withColumn("_dist", sqIntDist(col("_ssq"), col("_csq"), "_svf", "_cvf"))
      .groupBy(col("_id"), col("sub"))
      .agg(min(struct(col("_dist"), col("_code"))).as("_b"))
      .select(
        col("_id").as("neighbor_id"),
        col("sub"),
        col("_b._code").as("_code"),
        col("_b._dist").as("_dist")
      )
    (codebook, codes)
  }

  /** Broadcast query LUT (query_id, sub, _code, _pdist) against a codebook. */
  private def pqLut(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      codebook: DataFrame
  ): DataFrame = {
    val dim = dimOf(queries, vecCol, 0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    broadcast(
      withSubFloats(quantizedSubs(queries, idCol, vecCol, m, sub, "query_id"), "_sv", "_svf", "_ssq")
        .join(codebook, "sub")
        .select(
          col("query_id"),
          col("sub"),
          col("_code"),
          sqIntDist(col("_ssq"), col("_csq"), "_svf", "_cvf").as("_pdist")
        )
    )
  }

  /** Corpus PQ codes (neighbor_id, sub, _code) and the broadcast query LUT
    * (query_id, sub, _code, _pdist) — shared by [[pqTopK]] and
    * [[ivfPqTopK]].
    */
  private def pqCodesAndLut(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      codebookStride: Int
  ): (DataFrame, DataFrame) = {
    val (codebook, codes) = pqCodebookAndCodes(corpus, idCol, vecCol, m, codebookStride)
    (codes.drop("_dist"), pqLut(queries, idCol, vecCol, m, codebook))
  }

  /** Persist a PQ index — encode ONCE, query many times: at 100 TB the
    * encode pass over raw vectors is the expensive step, and every
    * subsequent query batch should read only the m-bytes-per-vector codes
    * plus the KB-scale codebook. Layout: `path/codebook`, `path/codes`
    * parquet.
    */
  def buildPqIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      m: Int = 4,
      codebookStride: Int = 31
  ): Unit = {
    VectorExpressions.install(corpus.sparkSession)
    val (codebook, codes) = pqCodebookAndCodes(corpus, idCol, vecCol, m, codebookStride)
    codebook.write.mode("overwrite").parquet(s"$path/codebook")
    // the index stores only the m codes per vector — that byte budget is the
    // point of PQ; the assignment distance is recomputable and not persisted
    codes.drop("_dist").write.mode("overwrite").parquet(s"$path/codes")
    ParquetIO.invalidate(path) // rebuild may replace read paths under it
  }

  /** PQ top-k against a persisted index ([[buildPqIndex]]) — identical
    * results to [[pqTopK]] over the corpus the index was built from
    * (asserted in PipelineOpsSpec), without touching any raw corpus vector.
    */
  def pqTopKFromIndex(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      path: String,
      m: Int = 4
  ): DataFrame = {
    val spark = queries.sparkSession
    VectorExpressions.install(spark)
    val codebook = ParquetIO.read(spark, s"$path/codebook")
    val codes = ParquetIO.read(spark, s"$path/codes")
    val lut = pqLut(queries, idCol, vecCol, m, codebook)
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    codes
      .join(lut, Seq("sub", "_code"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("_pdist")).as("adist"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Two-stage retrieval: PQ shortlist → exact re-rank — the standard
    * accuracy recovery for quantized search: [[pqTopK]] produces a cheap
    * `shortlist`-deep candidate set from codes alone, then ONLY those
    * candidates fetch their raw vectors (an id equi-join) for exact cosine
    * ranking. At 100 TB the expensive float work touches `shortlist`
    * vectors per query instead of the corpus.
    */
  def pqRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      shortlist: Int = 50,
      m: Int = 4,
      codebookStride: Int = 31
  ): DataFrame = {
    VectorExpressions.install(corpus.sparkSession)
    val cand = pqTopK(corpus, queries, idCol, vecCol, shortlist, m, codebookStride)
      .select(col("query_id"), col("neighbor_id"))
    val nv = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .withColumn("nn", sqrt(expr("graft_dot(nv, nv)")))
    val qv = broadcast(
      queries
        .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
        .withColumn("qn", sqrt(expr("graft_dot(qv, qv)")))
    )
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .join(nv, "neighbor_id")
      .join(qv, "query_id")
      .select(col("query_id"), col("neighbor_id"), pairCos("qv", "nv", "qn", "nn").as("cos"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** IVF-PQ — the composition that serves billion-vector ANN in production
    * (FAISS IVF-PQ): the IVF coarse quantizer restricts candidates to the
    * query's `nProbe` cells, and ranking inside those cells reads only PQ
    * codes (m bytes per vector) against the broadcast LUT. Candidate
    * generation shuffles on the scalar cell id; ranking shuffles one row per
    * (query, candidate); the raw vectors are touched exactly once, at
    * encode time. Deterministic end-to-end (stride centroids + exact
    * integer PQ distances), so the oracle replays assign → encode → probe →
    * rank in full.
    */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      centroidStride: Int = 37,
      nProbe: Int = 3,
      m: Int = 4,
      codebookStride: Int = 31
  ): DataFrame = {
    VectorExpressions.install(corpus.sparkSession)
    val cents = broadcast(
      corpus
        .filter(pmod(col(idCol), lit(centroidStride)) === 0)
        .select(col(idCol).as("cell"), col(vecCol).as("cv"))
        .withColumn("cn", sqrt(expr("graft_dot(cv, cv)")))
    )
    def scored(df: DataFrame, asId: String): DataFrame = df
      .select(col(idCol).as(asId), col(vecCol).as("_v"))
      .withColumn("_n", sqrt(expr("graft_dot(_v, _v)")))
      .crossJoin(cents)
      .withColumn("_cc", expr("graft_dot(_v, cv)") / (col("_n") * col("cn")))
    // corpus side: argmax as a partial-aggregated max (one shuffled row per
    // vector — the ivfTopK shape); query side: tiny, window top-nProbe
    val corpusCells = scored(corpus, "neighbor_id")
      .groupBy("neighbor_id")
      .agg(max(struct(col("_cc"), (-col("cell")).as("_nc"))).as("_b"))
      .select(col("neighbor_id"), (-col("_b._nc")).as("cell"))
    val qw = Window.partitionBy("query_id").orderBy(col("_cc").desc, col("cell"))
    val queryCells = scored(queries, "query_id")
      .withColumn("_cr", row_number().over(qw))
      .filter(col("_cr") <= nProbe)
      .select("query_id", "cell")
    val (codes, lut) = pqCodesAndLut(corpus, queries, idCol, vecCol, m, codebookStride)
    // each corpus vector lives in exactly one cell, so a (query, neighbor)
    // pair appears at most once — no dedup needed
    val cands = corpusCells
      .join(queryCells, "cell")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id").orderBy(col("adist"), col("neighbor_id"))
    cands
      .join(codes, "neighbor_id")
      .join(lut, Seq("query_id", "sub", "_code"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("_pdist")).as("adist"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  /** Persist an LSH index: corpus vectors + norms written Hive-partitioned
    * BY BUCKET, so a later query's candidate fetch is a partition-pruned
    * directory read (only the query buckets' directories are listed/scanned
    * — the FileIndex pruning the fragment engine already proves), not a
    * corpus scan. Bucketing and norms are computed once at build time.
    *
    * `bits` stays an EXPLICIT fixed default (not [[AutoBits]]) here: the
    * reader regenerates the planes from (bits, seed) alone, so build and
    * every later fetch must agree on the literal value — at scale pass
    * `autoBits(n)` at build time and reuse that number on the fetch side.
    */
  def buildLshIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      bits: Int = 8,
      seed: Int = 42,
      dim: Int = 0
  ): Unit = {
    VectorExpressions.install(corpus.sparkSession)
    val planes = hyperplanes(bits, dimOf(corpus, vecCol, dim), seed)
    corpus
      .select(
        col(idCol).as("neighbor_id"),
        col(vecCol).as("nv"),
        // "b" prefix: a bare bitstring directory value ("01011010") would be
        // type-inferred as an integer on read, silently dropping the leading
        // zeros and breaking the bucket join
        concat(lit("b"), lshBucket(col(vecCol), planes)).as("bucket")
      )
      .withColumn("nn", sqrt(expr("graft_dot(nv, nv)")))
      .write
      .mode("overwrite")
      .partitionBy("bucket")
      .parquet(path)
    ParquetIO.invalidate(path) // rebuild may replace a read path
  }

  /** LSH top-k against a persisted index ([[buildLshIndex]]) — identical
    * results to [[lshTopK]] over the corpus the index was built from
    * (asserted in PipelineOpsSpec). The bucket equi-join against the
    * partition column prunes candidate directories at the FileIndex level.
    * `bits`/`seed`/`dim` must match the build.
    */
  def lshTopKFromIndex(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      path: String,
      bits: Int = 8,
      seed: Int = 42,
      dim: Int = 0
  ): DataFrame = {
    VectorExpressions.install(queries.sparkSession)
    val planes = hyperplanes(bits, dimOf(queries, vecCol, dim), seed)
    val cb = ParquetIO.read(queries.sparkSession, path)
    val qb = broadcast(
      queries
        .select(
          col(idCol).as("query_id"),
          col(vecCol).as("qv"),
          concat(lit("b"), lshBucket(col(vecCol), planes)).as("bucket")
        )
        .withColumn("qn", sqrt(expr("graft_dot(qv, qv)")))
    )
    val w = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    cb.join(qb, "bucket")
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), pairCos("qv", "nv", "qn", "nn").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Incremental embedding near-dup against a persisted LSH index
    * ([[buildLshIndex]]) — the vector-space member of the O(delta)-per-
    * ingest family (`Dedup.incrementalNearDupPairs` for text MinHash,
    * `Dedup.incrementalHammingPairs` for perceptual sketches): a new batch
    * is bucketed once (b plane dot products per vector, the only
    * embedding-side work), broadcast, and bucket-joined against the
    * on-disk (id, vector, norm, bucket) rows unioned with its own, with
    * the exact rounded cosine verifying candidates — so the corpus is
    * never re-bucketed and only same-bucket candidates are ever scored.
    * Pairs normalize (id1 < id2) and corpus-internal pairs are NOT
    * re-reported. `bits`/`seed`/`dim` must match the build.
    */
  def incrementalCosinePairs(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      threshold: Double,
      bits: Int = 8,
      seed: Int = 42,
      dim: Int = 0
  ): DataFrame = {
    VectorExpressions.install(batch.sparkSession)
    val planes = hyperplanes(bits, dimOf(batch, vecCol, dim), seed)
    val bb = batch
      .select(
        col(idCol).as("bid"),
        col(vecCol).as("bv"),
        concat(lit("b"), lshBucket(col(vecCol), planes)).as("bucket")
      )
      .withColumn("bn", sqrt(expr("graft_dot(bv, bv)")))
      .localCheckpoint() // bucket once; both join branches reuse the rows
    val idx = ParquetIO.read(batch.sparkSession, path)
      .select(col("neighbor_id").as("nid"), col("nv"), col("nn"), col("bucket"))
    val all = idx.unionByName(
      bb.select(col("bid").as("nid"), col("bv").as("nv"), col("bn").as("nn"), col("bucket")))
    broadcast(bb)
      .join(all, "bucket")
      .filter(col("bid") =!= col("nid"))
      .select(
        least(col("bid"), col("nid")).as("id1"),
        greatest(col("bid"), col("nid")).as("id2"),
        pairCos("bv", "nv", "bn", "nn").as("cos")
      )
      .filter(col("cos") >= threshold)
      .distinct()
  }

  /** Monolithic embedding near-dup pairs: LSH bucket self-join → exact
    * rounded cosine ≥ threshold on same-bucket candidates only (never
    * all-pairs). The corpus-side twin of [[incrementalCosinePairs]] — used
    * to seed the initial cluster state and as the equivalence baseline in
    * its specs.
    */
  def cosineNearDupPairs(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 8,
      seed: Int = 42,
      dim: Int = 0
  ): DataFrame = {
    VectorExpressions.install(corpus.sparkSession)
    val b = lshBuckets(corpus, idCol, vecCol, bits, seed, dim)
      .withColumn("_n", sqrt(call_function("graft_dot", col(vecCol), col(vecCol))))
      .localCheckpoint() // bucket once; both self-join branches reuse the rows
    b.select(col(idCol).as("id1"), col(vecCol).as("_v1"), col("_n").as("_n1"), col("bucket"))
      .join(
        b.select(col(idCol).as("id2"), col(vecCol).as("_v2"), col("_n").as("_n2"), col("bucket")),
        "bucket")
      .filter(col("id1") < col("id2"))
      .select(
        col("id1"),
        col("id2"),
        round(call_function("graft_dot", col("_v1"), col("_v2")) / (col("_n1") * col("_n2")), 6)
          .as("cos")
      )
      .filter(col("cos") >= threshold)
  }

  /** Monolithic embedding near-dup clusters: [[cosineNearDupPairs]] edges →
    * connected components → (id, cluster_id). Seeds the persisted state
    * that [[incrementalCosineClusters]] maintains.
    */
  def cosineClusters(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      bits: Int = 8,
      seed: Int = 42,
      dim: Int = 0
  ): DataFrame =
    Dedup
      .connectedComponents(
        cosineNearDupPairs(corpus, idCol, vecCol, threshold, bits, seed, dim)
          .select("id1", "id2"),
        corpus.select(col(idCol))
      )
      .select(col("id").as(idCol), col("comp").as("cluster_id"))

  /** Cluster resolution straight FROM a persisted LSH vector index — the
    * state bootstrap when [[buildLshIndex]] has already run: candidate
    * pairs are the index's bucket self-join with the exact rounded cosine
    * verified from the STORED vectors and norms, so no re-bucketing and no
    * second pass over the corpus frame. ≡ [[cosineClusters]] over the
    * indexed corpus (pinned in PipelineOpsSpec).
    *
    * When to prefer which: this path wins whenever producing the corpus
    * frame again is the expensive thing (the 100 TB case — embeddings come
    * from storage or a model, and the index already holds vector+norm).
    * On a small in-memory corpus the 2^bits bucket-directory listing can
    * cost more than re-bucketing (measured at sf0.1: 6.4 s in-memory vs
    * 7.8 s from-index for a 5k-vector corpus at bits=8) — keep the frame
    * path there.
    */
  def clustersFromLshIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      threshold: Double
  ): DataFrame = {
    VectorExpressions.install(spark)
    val rows = ParquetIO.read(spark, path)
      .select(col("neighbor_id").as("id"), col("nv"), col("nn"), col("bucket"))
      .localCheckpoint() // one index read feeds both self-join branches + nodes
    val pairs = rows
      .select(col("id").as("id1"), col("nv").as("_v1"), col("nn").as("_n1"), col("bucket"))
      .join(
        rows.select(col("id").as("id2"), col("nv").as("_v2"), col("nn").as("_n2"), col("bucket")),
        "bucket")
      .filter(col("id1") < col("id2"))
      .select(
        col("id1"),
        col("id2"),
        round(call_function("graft_dot", col("_v1"), col("_v2")) / (col("_n1") * col("_n2")), 6)
          .as("cos")
      )
      .filter(col("cos") >= threshold)
      .select("id1", "id2")
    Dedup
      .connectedComponents(pairs, rows.select(col("id")).distinct())
      .select(col("id"), col("comp").as("cluster_id"))
  }

  /** The embedding member of the incremental-cluster family (beside
    * [[Dedup.incrementalClusters]] for text and
    * [[Dedup.incrementalHammingClusters]] for perceptual sketches): batch
    * pairs come from the persisted LSH vector index
    * ([[incrementalCosinePairs]] — b plane dots per batch vector, the only
    * embedding-side work), clusters from the shared label-space
    * contraction. Per-ingest work O(batch); the corpus is never
    * re-bucketed or re-clustered.
    */
  def incrementalCosineClusters(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      clusterStatePath: String,
      threshold: Double,
      bits: Int = 8,
      seed: Int = 42,
      dim: Int = 0
  ): DataFrame =
    Dedup.incrementalClustersFromPairs(
      batch.select(col(idCol).as("id")),
      incrementalCosinePairs(batch, idCol, vecCol, indexPath, threshold, bits, seed, dim)
        .select("id1", "id2"),
      clusterStatePath
    )

  /** 1-bit (sign) quantization: the embedding as a bitstring plus its
    * positive-component count. 64× smaller than float32 — the coarsest rung
    * of the quantization ladder (float → int8 → PQ → binary); retrieval over
    * it is [[hammingTopK]]. A narrow codegen'd projection, no shuffle.
    */
  def binaryQuantize(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(
      col(idCol),
      array_join(transform(col(vecCol), x => when(x >= 0, "1").otherwise("0")), "")
        .as("bits"),
      size(filter(col(vecCol), x => x >= 0)).cast("long").as("n_pos")
    )

  /** Top-k by Hamming distance between sign-bit vectors — binary-quantized
    * retrieval. Same broadcast-queries shape as [[bruteForceTopK]] but the
    * per-pair work is integer XOR-count instead of a float dot product (and
    * the candidate scan reads 1 bit per dimension from storage once binary
    * codes are materialized). Exact integer distances → engine-deterministic
    * ranking with (ham, neighbor) tie-break.
    */
  def hammingTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    def signBits(df: DataFrame, as: String) = df.select(
      col(idCol).as(as),
      transform(col(vecCol), x => when(x >= 0, 1).otherwise(0)).as(s"_${as}_b")
    )
    val q = broadcast(signBits(queries, "query_id"))
    val ham = aggregate(
      zip_with(col("_query_id_b"), col("_neighbor_id_b"), (a, b) => abs(a - b)),
      lit(0),
      (acc, x) => acc + x
    )
    val w = Window.partitionBy("query_id").orderBy(col("ham"), col("neighbor_id"))
    signBits(corpus, "neighbor_id")
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), ham.cast("long").as("ham"))
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= k)
  }

  // ---- deterministic graph ANN (NSW / HNSW) -------------------------------
  //
  // One beam walk ([[nswBeamFromSeeds]]) serves every graph-ANN search. A
  // search runs over `edgesByLevel`: level 0 is the graph over the whole
  // corpus, level l ≥ 1 the graph over the nodes whose md5(id) starts with
  // l zero hex digits ([[hnswLevelPred]] — the levels nest, each ~1/16 of
  // the one below). A flat NSW graph is the hierarchy with zero coarse
  // levels (`levels = 1`); nothing else distinguishes the flat search from
  // the hierarchical one.
  //
  // ENTRY: every search starts at the md5-min corpus node ([[nswEntry]]),
  // on level min(leading zero hex digits of its md5, levels − 1). The
  // lexicographically smallest md5 also has the longest zero run, so that
  // node lies on the topmost non-empty level and is that level's md5-min
  // node too: one ordered head() picks both the node and the level. A
  // corpus without a coarse node enters on level 0 — the flat walk.
  //
  // SNAPSHOTS: a committed index with `levels = 1` is untagged
  // (src, dst, cos); with `levels ≥ 2` every edge row carries its `lvl`, so
  // version semantics, diff, vacuum and time travel cover the whole
  // hierarchy atomically. [[nswTopKFromCommitted]] tells them apart by the
  // schema alone, and walks a tagged snapshot's coarse levels only when
  // level 0 has at least `hierarchyMinNodes` nodes (below that, level 0
  // alone — the flat walk).

  /** Deterministic approximate-kNN GRAPH over the corpus — the navigable
    * small-world edge set a graph-ANN search walks. Classic NSW/HNSW builds
    * are sequential (insert one point at a time); this is the
    * Spark-distributable equivalent (DiskANN/Vamana-shaped): candidate
    * edges come from `tables` independent md5-seeded LSH bucketings (each
    * bucket self-joins — an equi-join on a scalar key, never all-pairs),
    * each node keeps its `degree` best candidates by exact cosine, and
    * every kept edge is mirrored (NSW links are bidirectional — the
    * reverse of a pruned out-edge is what keeps hub nodes reachable).
    * Multiple tables serve the role insertion order serves in NSW: each
    * extra table is an independent chance for cross-cluster bucket
    * collisions, which become the graph's long-range links.
    *
    * Fully deterministic: md5-derived planes, (cos desc, dst asc) pruning.
    * At corpus scale, `bits` grows with log₂(n) to bound bucket sizes —
    * the same contract as every LSH operator here; the edge table is
    * ≤ 2·degree·n rows, the index a graph-partitioned parquet.
    *
    * @return (src, dst, cos) — directed edge rows, both directions present
    */
  def buildNswEdges(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      degree: Int = 12,
      tables: Int = 4,
      bits: Int = 6,
      seed: Int = 42,
      dim: Int = 0
  ): DataFrame =
    nswEdgesFor(corpus, corpus, idCol, vecCol, degree, tables, bits, seed, dim)

  /** Build + search in one call (the spec/entry surface; production holds
    * the graphs as a persisted index and calls [[nswTopKFromCommitted]]).
    * `levels = 1` is the flat NSW search; `levels ≥ 2` adds HNSW-style
    * coarse levels (Malkov & Yashunin 2016, distilled to its load-bearing
    * idea), each built with the same parameters over its md5-prefix node
    * set and walked with a tiny beam before the full-beam level-0 walk.
    */
  def nswTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      degree: Int = 12,
      tables: Int = 4,
      bits: Int = 6,
      beam: Int = 32,
      hops: Int = 5,
      seed: Int = 42,
      dim: Int = 0,
      levels: Int = 1,
      upperBeam: Int = 4,
      upperHops: Int = 2
  ): DataFrame = {
    val edgesByLevel = (0 until levels).map { l =>
      buildNswEdges(levelNodes(corpus, idCol, l), idCol, vecCol, degree, tables, bits, seed, dim)
        .select("src", "dst")
    }
    nswTopKFromEdges(corpus, queries, idCol, vecCol, edgesByLevel, k, beam, hops,
      upperBeam, upperHops)
  }

  /** Greedy beam search over prebuilt level graphs: `edgesByLevel(l)` is
    * the [[buildNswEdges]] graph over level l's node set (level 0 = the
    * full corpus). The walk enters at [[nswEntry]]'s node and level and
    * descends: each coarse level is a tiny (upperBeam, upperHops, k = 1)
    * walk whose best node seeds the level below, so at 10⁹+ nodes the
    * full-beam budget starts next to the answer after O(log₁₆ n) cheap hops
    * instead of paying diameter-growing travel from one global entry. A
    * query whose coarse walk yields nothing (it IS that level's entry and
    * self-matches are excluded) keeps its previous seed. With one level, or
    * a corpus without coarse nodes, this is the flat walk from the global
    * entry.
    *
    * Each hop expands the current beam's out-edges, exact-scores the
    * frontier against every query (queries broadcast, one equi-join per
    * hop on the node id), and keeps the `beam` best — the monotone
    * best-so-far set makes an explicit visited-set unnecessary. `hops`
    * bounds the level-0 walk (cost ≤ hops·beam·degree scored candidates per
    * query — the knob `ann_graph_sweep` sweeps).
    *
    * Output interface-matches [[bruteForceTopK]]: (query_id, neighbor_id,
    * cos, rank), self-matches excluded — so [[recallAtK]] compares them
    * directly. `beam` should exceed k (the self node occupies a slot).
    */
  def nswTopKFromEdges(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      edgesByLevel: Seq[DataFrame],
      k: Int,
      beam: Int = 32,
      hops: Int = 5,
      upperBeam: Int = 4,
      upperHops: Int = 2
  ): DataFrame = {
    require(edgesByLevel.nonEmpty, "need at least the level-0 graph")
    if (edgesByLevel.size > 1) requireNumericId(corpus, idCol, "nswTopKFromEdges")
    val spark = corpus.sparkSession
    VectorExpressions.install(spark)
    val c = withNorm(corpus, idCol, vecCol, "node_id", "nv", "nn").localCheckpoint()
    val q = broadcast(withNorm(queries, idCol, vecCol, "query_id", "qv", "qn"))
    val (entry, top) = nswEntry(corpus, idCol, edgesByLevel.size - 1)
    val seeds = (top to 1 by -1).foldLeft(
      queries.select(col(idCol).as("query_id"), lit(entry).as("node_id"))
    ) { (seeds, l) =>
      val coarse = nswBeamFromSeeds(spark, c.filter(hnswLevelPred("node_id", l)), q,
        edgesByLevel(l), seeds, 1, upperBeam, upperHops)
      seeds
        .join(coarse.select(col("query_id"), col("neighbor_id")), Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("neighbor_id"), col("node_id")).as("node_id"))
    }
    nswBeamFromSeeds(spark, c, q, edgesByLevel.head, seeds, k, beam, hops)
  }

  /** The entry rule, one Spark job: the md5-min corpus node and its level,
    * capped at `maxLevel` (see the section comment for why the md5-min
    * node is also the topmost level's entry).
    */
  private[graft] def nswEntry(corpus: DataFrame, idCol: String, maxLevel: Int): (Long, Int) = {
    val e = corpus
      .select(col(idCol).cast("long").as("id"))
      .withColumn("h", md5(col("id").cast("string")))
      .orderBy(col("h"), col("id"))
      .head()
    (e.getLong(0), math.min(e.getString(1).takeWhile(_ == '0').length, maxLevel))
  }

  /** The beam walk. `seeds` is (query_id, node_id) — any node set; the
    * first hop scores it exactly like any frontier.
    */
  private def nswBeamFromSeeds(
      spark: SparkSession,
      c: DataFrame,
      q: DataFrame,
      edges: DataFrame,
      seeds: DataFrame,
      k: Int,
      beam: Int,
      hops: Int
  ): DataFrame = {
    def score(nodes: DataFrame): DataFrame =
      nodes
        .join(c, "node_id")
        .join(q, "query_id")
        .select(col("query_id"), col("node_id"), pairCos("qv", "nv", "qn", "nn").as("cos"))
    val adj = edges.select(col("src").as("node_id"), col("dst")).localCheckpoint()
    // Runtime bloom-filter injection is counterproductive on the hop loop:
    // every join here has a FRONTIER-sized side (≤ queries·beam rows), so
    // the injected filter is built over a handful of keys yet sized by the
    // no-stats default (1M items → 1 MiB of bloom bytes), and the evaluated
    // subquery result is embedded in EVERY hop stage's task binary — the
    // ~1.1 MiB "Broadcasting large task binary" tail the bench used to
    // carry, pure per-task overhead that multiplies with query fan-out at
    // cluster scale. The override is THREAD-SCOPED, never session-global:
    // each eager checkpoint optimizes under a cloned SQLConf installed via
    // SQLConf.withExistingConf for exactly that action, so concurrent
    // queries on the same session keep their runtime bloom filters and two
    // overlapping searches cannot restore each other's prior value (the
    // earlier session-conf toggle had both failure modes).
    val noBloomConf = spark.sessionState.conf.clone()
    noBloomConf.setConfString(
      "spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    def noBloom[T](body: => T): T =
      org.apache.spark.sql.internal.SQLConf.withExistingConf(noBloomConf)(body)
    var frontier = noBloom {
      score(seeds).localCheckpoint()
    }
    val wBeam = Window.partitionBy("query_id").orderBy(col("cos").desc, col("node_id"))
    def hop(prev: DataFrame): DataFrame = {
      val expanded = prev
        .select("query_id", "node_id")
        .join(adj, "node_id")
        .select(col("query_id"), col("dst").as("node_id"))
        .distinct()
      prev
        .unionByName(score(expanded))
        .groupBy("query_id", "node_id")
        .agg(max("cos").as("cos"))
        .withColumn("_r", row_number().over(wBeam))
        .filter(col("_r") <= beam)
        .select("query_id", "node_id", "cos")
    }
    // TWO hops per checkpoint: the per-hop beam prune stays in the lineage
    // (identical results — pruning is a deterministic window), but the
    // materialization barrier count halves. The un-truncated segment holds
    // ≤ 4 copies of the previous checkpoint's subtree (each hop references
    // its input twice), which analysis absorbs; per-hop checkpointing
    // existed to stop the GEOMETRIC growth of chaining many hops, and a
    // 2-hop segment keeps that bound.
    var remaining = hops
    while (remaining > 0) {
      val step = math.min(2, remaining)
      val segment = (1 to step).foldLeft(frontier)((f, _) => hop(f))
      frontier = noBloom { segment.localCheckpoint() }
      remaining -= step
    }
    val wRank = Window.partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    frontier
      .filter(col("node_id") =!= col("query_id"))
      .select(col("query_id"), col("node_id").as("neighbor_id"), col("cos"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
  }

  /** Candidate edges for `srcSide` against `corpus` via the NSW hash
    * tables, degree-pruned per src and mirrored — the shared kernel of
    * [[buildNswEdges]] (srcSide = corpus) and the index append path
    * (srcSide = batch, corpus = old ∪ batch).
    */
  private def nswEdgesFor(
      srcSide: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      degree: Int,
      tables: Int,
      bits: Int,
      seed: Int,
      dim: Int
  ): DataFrame = {
    VectorExpressions.install(corpus.sparkSession)
    val d = dimOf(corpus, vecCol, dim)
    val c = withNorm(corpus, idCol, vecCol, "id", "v", "n")
    val s = withNorm(srcSide, idCol, vecCol, "id", "v", "n")
    val cands = (0 until tables)
      .map { t =>
        val planes = hyperplanes(bits, d, seed + t * 1009)
        val bs = s.select(col("id").as("src"), lshBucket(col("v"), planes).as("bucket"))
        val bc = c.select(col("id").as("dst"), lshBucket(col("v"), planes).as("bucket"))
        bs.join(bc, "bucket").filter(col("src") =!= col("dst")).select("src", "dst")
      }
      .reduce(_ unionByName _)
      .distinct()
    val scored = cands
      .join(s.select(col("id").as("src"), col("v").as("sv"), col("n").as("sn")), "src")
      .join(c.select(col("id").as("dst"), col("v").as("dv"), col("n").as("dn")), "dst")
      .select(col("src"), col("dst"), pairCos("sv", "dv", "sn", "dn").as("cos"))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val pruned = scored
      .withColumn("_r", row_number().over(w))
      .filter(col("_r") <= degree)
      .select("src", "dst", "cos")
    pruned
      .unionByName(pruned.select(col("dst").as("src"), col("src").as("dst"), col("cos")))
      .groupBy("src", "dst")
      .agg(max("cos").as("cos"))
  }

  /** Level `level`'s node set: the whole frame at level 0, else the
    * [[hnswLevelPred]] members.
    */
  private def levelNodes(df: DataFrame, idCol: String, level: Int): DataFrame =
    if (level == 0) df else df.filter(hnswLevelPred(idCol, level))

  /** md5-prefix membership predicate of hierarchical level `level` — level
    * l spans the nodes whose md5 starts with l zero hex digits, so levels
    * NEST (each ~1/16 of the one below) and build, append, and search can
    * never disagree on which nodes a level spans.
    *
    * Ids are hashed through their LONG form (the DuckDB twins replay
    * exactly that), so every path with more than one level requires
    * numeric ids — [[requireNumericId]] makes the contract visible instead
    * of silently yielding an empty coarse level on a string-id corpus.
    */
  private def hnswLevelPred(idCol: String, level: Int): Column =
    substring(md5(col(idCol).cast("long").cast("string")), 1, level) === "0" * level

  private def requireNumericId(df: DataFrame, idCol: String, api: String): Unit = {
    val dt = df.schema(df.schema.fieldIndex(idCol)).dataType
    require(
      dt == org.apache.spark.sql.types.LongType ||
        dt == org.apache.spark.sql.types.IntegerType ||
        dt == org.apache.spark.sql.types.ShortType ||
        dt == org.apache.spark.sql.types.ByteType,
      s"$api hierarchy levels hash the id through its long form: " +
        s"'$idCol' is ${dt.simpleString}, use a numeric id (or levels = 1)")
  }

  /** Persist the NSW graph as the next version of an [[IndexCommit]]-managed
    * index — the first index family born on the commit protocol: every
    * transition below is a pure build function, so concurrent writers
    * rebase instead of clobbering and a crash never corrupts the committed
    * graph. `levels = 1` writes the untagged (src, dst, cos) snapshot;
    * `levels ≥ 2` writes every level's graph into ONE `lvl`-tagged
    * snapshot, so a reader can never see a full graph without its matching
    * coarse levels. At 10⁹+ nodes pick levels ≈ log₁₆(n / beamable-size)
    * so the top level is walkable in O(1) hops.
    */
  def buildNswIndexVersioned(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      root: String,
      writerId: String,
      degree: Int = 12,
      tables: Int = 4,
      bits: Int = 6,
      seed: Int = 42,
      dim: Int = 0,
      levels: Int = 1
  ): Long = {
    if (levels > 1) requireNumericId(corpus, idCol, "buildNswIndexVersioned")
    commitLevels(corpus.sparkSession, root, writerId, levels) { l =>
      buildNswEdges(levelNodes(corpus, idCol, l), idCol, vecCol, degree, tables, bits, seed, dim)
    }
  }

  /** Frozen-plane NSW ingest (the graph sibling of the frozen-centroid IVF
    * append, E297): on every level, the batch's members get candidate
    * edges from the SAME md5 hash tables against that level's old ∪ batch
    * members, degree-pruned per batch node and mirrored — existing nodes
    * keep their out-edges (no corpus re-prune; the mirrored in-edges are
    * how NSW absorbs inserts), so the append is O(batch) graph work per
    * level plus one base-∪-delta snapshot write. Pure function of the
    * committed base → rebase-safe under concurrent writers. `levels` must
    * match the index's.
    */
  def appendNswIndexVersioned(
      oldCorpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      root: String,
      writerId: String,
      degree: Int = 12,
      tables: Int = 4,
      bits: Int = 6,
      seed: Int = 42,
      dim: Int = 0,
      levels: Int = 1
  ): Long = {
    if (levels > 1) requireNumericId(batch, idCol, "appendNswIndexVersioned")
    val all = oldCorpus.unionByName(batch)
    commitLevels(batch.sparkSession, root, writerId, levels) { l =>
      nswEdgesFor(levelNodes(batch, idCol, l), levelNodes(all, idCol, l), idCol, vecCol,
        degree, tables, bits, seed, dim)
    }
  }

  /** Commit `edgesAt(l)` for every level over the committed base (max cos
    * per edge): untagged for one level, `lvl`-tagged for more.
    */
  private def commitLevels(spark: SparkSession, root: String, writerId: String, levels: Int)(
      edgesAt: Int => DataFrame
  ): Long = {
    require(levels >= 1, "need at least the level-0 graph")
    val (fresh, key) =
      if (levels == 1) (edgesAt(0), Seq("src", "dst"))
      else (
        (0 until levels).map(l => edgesAt(l).withColumn("lvl", lit(l))).reduce(_ unionByName _),
        Seq("lvl", "src", "dst"))
    IndexCommit.commit(spark, root, writerId) {
      case None       => fresh
      case Some(base) =>
        base.unionByName(fresh).groupBy(key.map(col): _*).agg(max("cos").as("cos"))
    }
  }

  /** Right-to-be-forgotten on the graph: every edge touching a condemned
    * id leaves the next version, on every level of a tagged snapshot
    * (blast radius = the deleted nodes' neighborhoods; survivors keep their
    * other links, which is how NSW degrades gracefully under deletion).
    */
  def forgetNswIndexVersioned(
      spark: SparkSession,
      ids: DataFrame,
      root: String,
      writerId: String
  ): Long =
    IndexCommit.commit(spark, root, writerId) {
      case None       => throw new IllegalStateException(s"no committed NSW index at $root")
      case Some(base) =>
        val condemnedSrc = ids.toDF("src")
        val condemnedDst = ids.toDF("dst")
        base
          .join(condemnedSrc, Seq("src"), "left_anti")
          .join(condemnedDst, Seq("dst"), "left_anti")
    }

  /** Beam search over the newest committed graph — the production read
    * path. An untagged snapshot is walked flat, exactly as it is stored. A
    * `lvl`-tagged snapshot supplies the level count from its own tags, so
    * a 3-level index descends 3 levels with no caller coordination.
    *
    * SIZE GATE (tagged snapshots only): below `hierarchyMinNodes` level-0
    * nodes the coarse descent is pure overhead — the graph's diameter is
    * already within the full beam's hop budget, and the extra tiny-beam
    * hops measured ~1 s slower at 50k nodes (SCALING.md x_hnsw_warm vs
    * x_nsw_warm) — so small snapshots walk level 0 alone. One count
    * against the checkpointed snapshot decides; recall is unaffected (the
    * hierarchy's claim is entry placement at diameter scale, not result
    * quality). Pass 0 to force the hierarchical walk (the oracled entries
    * pin 0 for engine-replay comparability).
    */
  def nswTopKFromCommitted(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      root: String,
      k: Int,
      beam: Int = 32,
      hops: Int = 5,
      upperBeam: Int = 4,
      upperHops: Int = 2,
      hierarchyMinNodes: Long = 100000L
  ): DataFrame = {
    val snap = IndexCommit
      .readCommitted(corpus.sparkSession, root)
      .getOrElse(throw new IllegalStateException(s"no committed NSW index at $root"))
      ._2
    val edgesByLevel =
      if (!snap.columns.contains("lvl")) Seq(snap.select("src", "dst"))
      else {
        val tagged = snap.localCheckpoint()
        def level(l: Int) = tagged.filter(col("lvl") === l).select("src", "dst")
        val small = hierarchyMinNodes > 0 &&
          level(0).select("src").distinct().count() < hierarchyMinNodes
        val top = if (small) 0 else tagged.agg(max(col("lvl"))).head().getInt(0)
        (0 to top).map(level)
      }
    nswTopKFromEdges(corpus, queries, idCol, vecCol, edgesByLevel, k, beam, hops,
      upperBeam, upperHops)
  }

  /** Recall@k of an approximate top-k against the exact one: per query, the
    * fraction of exact neighbors the approximate list found. Both inputs are
    * (query_id, neighbor_id, ...) top-k outputs (e.g. [[bruteForceTopK]] vs
    * [[lshTopK]]). Queries the approximate index missed entirely still get a
    * row (recall 0) via the left join from the exact query set. This is the
    * evaluation loop an ANN deployment runs on a sample before trusting an
    * index at corpus scale.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame, k: Int): DataFrame = {
    val hits = exact
      .select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id")), Seq("query_id", "neighbor_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("hits"))
    exact
      .select(col("query_id"))
      .distinct()
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)) / lit(k.toDouble)).as("recall")
      )
  }
}

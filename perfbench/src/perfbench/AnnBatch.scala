package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.{IndexCommit, Similarity}

/** `ann_batch`: persisted-index vector search. A Gaussian-mixture corpus is
  * indexed once with `buildIvfIndex` and `buildNswIndexVersioned`; each step
  * then answers a seeded batch of queries with `bruteForceTopK`,
  * `ivfTopKFromIndex` and `nswTopKFromCommitted` at k = 10.
  *
  * Checks: a few queries per batch are recomputed in plain Scala and must
  * match `bruteForceTopK`; every method must return k neighbours per query
  * whose reported cosine is the true one. Recall@10 of each index is scored
  * against the exact result.
  */
object AnnBatch {
  val Corpus = 5000
  val Dim = 64
  val Centres = 32
  val Sigma = 0.6
  /** One query per mixture centre, so every batch covers every cluster. */
  val Batch = 32
  val K = 10
  val Checked = 3
  val SetupReps = 2
  val QueryIdBase = 1000000L
  /** The corpus is the same for every run; `--seed` draws the query
    * batches. Recall then measures the index on one fixed corpus instead of
    * varying with the luck of each corpus draw.
    */
  val CorpusSeed = 20250101L

  private def around(rnd: SplittableRandom, c: Array[Float]): Array[Float] =
    Array.tabulate(Dim)(i => (c(i) + Sigma * gauss(rnd)).toFloat)

  private def gauss(rnd: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - rnd.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2 * math.Pi * rnd.nextDouble())
  }

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def frame(spark: SparkSession, ids: Seq[Long], vs: Seq[Array[Float]]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(ids.indices.map(i => Row(ids(i), vs(i).toSeq)): _*), schema)

  /** The cosine graft reports: dot over the product of norms, rounded to 6
    * decimals half-up, all in double over float inputs.
    */
  private def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }
  def cosine(a: Array[Float], b: Array[Float]): Double =
    BigDecimal(dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val corpusRnd = new SplittableRandom(CorpusSeed)
    val centres = Array.fill(Centres)(Array.fill(Dim)(gauss(corpusRnd).toFloat))
    val vecs = Array.fill(Corpus)(around(corpusRnd, centres(corpusRnd.nextInt(Centres))))
    val rnd = new SplittableRandom(ctx.seed)
    val corpusPath = ctx.work.resolve("corpus").toString
    frame(spark, (0 until Corpus).map(_.toLong), vecs.toSeq).repartition(4).write.parquet(corpusPath)
    val corpus = spark.read.parquet(corpusPath)
    ctx.phase("corpus written")
    val t = ctx.tracer

    // set-up, repeated: both indexes into fresh directories, the last kept
    val ivfNs, nswNs = ArrayBuffer.empty[Double]
    var ivfPath, nswRoot = ""
    val setupNs = (1 to SetupReps).map { rep =>
      ivfPath = ctx.work.resolve(s"ivf-$rep").toString
      nswRoot = ctx.work.resolve(s"nsw-$rep").toString
      Stats.timed {
        ivfNs += Stats.timed(Similarity.buildIvfIndex(corpus, "vec_id", "embedding", ivfPath))._2
        nswNs += Stats.timed(Similarity.buildNswIndexVersioned(
          corpus, "vec_id", "embedding", nswRoot, "perfbench", dim = Dim))._2
      }._2
    }

    ctx.phase("indexes built")
    val methods = Seq("bruteForceTopK", "ivfTopKFromIndex", "nswTopKFromCommitted")
    val batchMs = methods.map(_ -> ArrayBuffer.empty[Double]).toMap
    var ivfHits, nswHits, slots, queriesOk = 0L
    val opMs, tracedMs, plainMs, headMs = ArrayBuffer.empty[Double]
    // traced calls only: graft's call up to the returned frame, its
    // materialisation, and the frame, re-planned after the loop
    val buildMs, execMs = ArrayBuffer.empty[Double]
    val frames = ArrayBuffer.empty[DataFrame]
    val tracedOps = ArrayBuffer.empty[Long]

    /** Run one search: (query id -> neighbour ids by rank, with reported
      * cosines).
      */
    def topK(search: => DataFrame, traced: Boolean): Map[Long, Seq[(Long, Double)]] = {
      val (df, bNs) = Stats.timed(search.select("query_id", "neighbor_id", "cos", "rank"))
      val (rows, eNs) = Stats.timed(df.collect())
      if (traced) {
        buildMs += Stats.nanosToMs(bNs); execMs += Stats.nanosToMs(eNs); frames += df
      }
      rows.toSeq.groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.sortBy(_.getInt(3)).map(r => (r.getLong(1), r.getDouble(2))) }
    }

    def step(id: Long, traced: Boolean): Unit = {
      val qv = centres.map(c => around(rnd, c))
      val qids = (0 until Batch).map(i => QueryIdBase + id * Batch + i)
      val queries = frame(spark, qids, qv.toSeq).cache()
      queries.count()
      val byId = qids.zip(qv).toMap
      def call(m: String): DataFrame = m match {
        case "bruteForceTopK"   => Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", K)
        case "ivfTopKFromIndex" => Similarity.ivfTopKFromIndex(queries, "vec_id", "embedding", K, ivfPath)
        case _ => Similarity.nswTopKFromCommitted(corpus, queries, "vec_id", "embedding", nswRoot, K)
      }
      val results = methods.map { m =>
        out.attempted += 1
        val (r, ns) = Stats.timed(
          if (traced) t.span(s"Similarity.$m")(topK(call(m), traced)) else topK(call(m), traced))
        batchMs(m) += Stats.nanosToMs(ns)
        opMs += Stats.nanosToMs(ns)
        if (ctx.trace) (if (traced) tracedMs else plainMs) += Stats.nanosToMs(ns)
        // every answer: k neighbours per query, each with its true cosine
        val ok = qids.forall { q =>
          r.get(q).exists(ns => ns.size == K && ns.map(_._1).distinct.size == K && ns.forall {
            case (n, c) => n >= 0 && n < Corpus && math.abs(c - cosine(byId(q), vecs(n.toInt))) <= 2e-6
          })
        }
        if (!ok) { out.wrong += 1; out.notes += s"$m returned a wrong answer in step $id" }
        else queriesOk += Batch
        m -> r
      }.toMap
      // exact search recomputed in plain Scala for a few queries
      val exact = results("bruteForceTopK")
      qids.take(Checked).foreach { q =>
        val want = vecs.indices.map(n => (n.toLong, cosine(byId(q), vecs(n))))
          .sortBy { case (n, c) => (-c, n) }.take(K)
        val got = exact.getOrElse(q, Nil)
        if (got.size != K || got.zip(want).exists { case ((_, a), (_, b)) => math.abs(a - b) > 2e-6 }) {
          out.wrong += 1; out.notes += s"bruteForceTopK disagrees with the plain-Scala scan for query $q"
        }
      }
      qids.foreach { q =>
        val truth = exact.getOrElse(q, Nil).map(_._1).toSet
        ivfHits += results("ivfTopKFromIndex").getOrElse(q, Nil).count(n => truth(n._1))
        nswHits += results("nswTopKFromCommitted").getOrElse(q, Nil).count(n => truth(n._1))
        slots += K
      }
      queries.unpersist()
    }


    val gc0 = Stats.gcSeconds()
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    var opId = 0L
    // a traced run needs a traced and an untraced batch for its overhead
    while (System.nanoTime() < deadline || (ctx.trace && opId < 2)) {
      opId += 1
      val traced = ctx.trace && opId % 2 == 0
      t.op = if (traced) opId else -1L
      step(opId, traced)
      if (traced) {
        tracedOps += opId
        t.op = -opId
        headMs += Stats.nanosToMs(Stats.timed(t.span("IndexCommit.readCommitted") {
          IndexCommit.readCommitted(spark, nswRoot).map(_._1)
        })._2)
      }
    }
    val gcS = Stats.gcSeconds() - gc0
    ctx.phase("loop done")

    if (!ctx.trace) {
      val ivfRecall = ivfHits.toDouble / slots
      val graphRecall = nswHits.toDouble / slots
      // both results hold k ids, so a method's F1 against exact search is its recall
      Run.common(ctx, out, setupNs, 0L, opMs.toSeq, queriesOk.toDouble, math.sqrt(ivfRecall * graphRecall))
      out.detail("exact_batch_ms_p50", Stats.median(batchMs("bruteForceTopK")), "ms")
      out.detail("ivf_batch_ms_p50", Stats.median(batchMs("ivfTopKFromIndex")), "ms")
      out.detail("graph_batch_ms_p50", Stats.median(batchMs("nswTopKFromCommitted")), "ms")
      out.detail("ivf_recall_at10", ivfRecall, "ratio")
      out.detail("graph_recall_at10", graphRecall, "ratio")
      out.notes += s"batches=$opId"
    } else {
      t.drain()
      methods.foreach { m =>
        val per = t.all.filter(s => s.name == s"Similarity.$m").map(t.own)
        val n = math.max(1, per.size).toDouble
        out.detail(s"Similarity.$m.jobs", per.map(_.jobs).sum / n, "count")
        out.detail(s"Similarity.$m.tasks", per.map(_.tasks).sum / n, "count")
        out.detail(s"Similarity.$m.shuffle_bytes", per.map(_.shuffleWriteBytes).sum / n, "bytes")
        out.detail(s"Similarity.$m.executor_cpu_ms", per.map(_.executorCpuNs).sum / n / 1e6, "ms")
      }
      out.detail("IndexCommit.readCommitted_ms_p50", Stats.median(headMs), "ms")
      out.detail("Similarity.buildIvfIndex_s", Stats.median(ivfNs) / 1e9, "s")
      out.detail("Similarity.buildNswIndexVersioned_s", Stats.median(nswNs) / 1e9, "s")
      Run.commonLayers(ctx, out, tracedOps.toSeq, gcS, Stats.median(tracedMs) - Stats.median(plainMs),
        setupNs.map(_.toDouble), buildMs.toSeq, execMs.toSeq, frames.map(Run.planningMs).toSeq)
    }
    out
  }
}

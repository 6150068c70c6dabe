package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Dedup

/** `dedup_chains`: the training-data near-duplicate pipeline,
  * `Dedup.dedupClusters(fast = true)`, over seeded corpus shards.
  *
  * About 30% of each shard's documents are planted near-duplicates: half in
  * clone families (a base and 1–9 copies, each 3 token edits from the base),
  * half in revision chains (3 token edits per link, 2–20 links). One shard
  * per cycle also carries one 512-link revision chain. Ids grow along a
  * chain, as a crawl appends revisions in time order.
  *
  * Checks: every document is assigned exactly once; a shard passed twice
  * gets the same assignment; pair F1 is scored against the planted truth.
  */
object DedupChains {
  val Docs = 20000
  val Shards = 4
  val Vocab = 5000
  val EditsPerLink = 3
  /** Links of the long chain. Its pages share band keys with pages dozens
    * of links away, so the component's diameter grows much more slowly than
    * its length: 32 and 128 links converge within `maxIter = 25`, and 512
    * links exceed it on most seeds.
    */
  val LongChainLinks = 512

  /** One corpus shard: texts by doc id (= index) and each doc's planted
    * cluster (-1 for a document planted in none).
    */
  final case class Shard(index: Int, texts: Array[String], truth: Array[Int], longChain: Boolean)

  private final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(rnd: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
  private val zipf = new Zipf(Vocab, 1.0)

  private def word(rnd: SplittableRandom): String = s"w${zipf.draw(rnd)}"

  private def edited(rnd: SplittableRandom, doc: Array[String]): Array[String] = {
    val d = doc.clone()
    (1 to EditsPerLink).foreach(_ => d(rnd.nextInt(d.length)) = word(rnd))
    d
  }

  def shard(seed: Long, index: Int, longChain: Boolean): Shard = {
    val rnd = new SplittableRandom(seed * 1000003L + index)
    def fresh(): Array[String] = Array.fill(100 + rnd.nextInt(41))(word(rnd))
    // units: each a list of docs; ids follow unit order, then order within
    val units = ArrayBuffer.empty[Seq[Array[String]]]
    def chain(links: Int): Seq[Array[String]] =
      Iterator.iterate(fresh())(d => edited(rnd, d)).take(links + 1).toSeq
    if (longChain) units += chain(LongChainLinks)
    var planted = units.map(_.size).sum
    var families = 0
    while (families < Docs * 15 / 100) {
      val base = fresh()
      val u = base +: Seq.fill(1 + rnd.nextInt(9))(edited(rnd, base))
      units += u; families += u.size
    }
    var chains = planted
    while (chains < Docs * 15 / 100) {
      val u = chain(2 + rnd.nextInt(19))
      units += u; chains += u.size
    }
    planted = families + chains
    val singles = math.max(0, Docs - planted)
    (1 to singles).foreach(_ => units += Seq(fresh()))
    // shuffle unit order (Fisher-Yates, seeded)
    val order = units.indices.toArray
    for (i <- order.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1)
      val x = order(i); order(i) = order(j); order(j) = x
    }
    val texts = ArrayBuffer.empty[String]
    val truth = ArrayBuffer.empty[Int]
    order.foreach { u =>
      val docs = units(u)
      docs.foreach { d => texts += d.mkString(" "); truth += (if (docs.size > 1) u else -1) }
    }
    Shard(index, texts.toArray, truth.toArray, longChain)
  }

  /** (true positive pairs, predicted pairs, planted pairs) of one pass. */
  def pairCounts(truth: Array[Int], cluster: Array[Long]): (Long, Long, Long) = {
    def pairs(n: Long) = n * (n - 1) / 2
    val pred = cluster.groupBy(identity).values.map(c => pairs(c.length.toLong)).sum
    val planted = truth.filter(_ >= 0).groupBy(identity).values.map(c => pairs(c.length.toLong)).sum
    val cells = truth.indices.filter(truth(_) >= 0).groupBy(i => (truth(i), cluster(i)))
    (cells.values.map(c => pairs(c.size.toLong)).sum, pred, planted)
  }

  private val schema = org.apache.spark.sql.types.StructType.fromDDL("doc_id BIGINT, text STRING")

  /** A shard as a tab-separated `doc_id, text` file, written without Spark. */
  private def write(s: Shard, path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try s.texts.indices.foreach(i => w.write(s"$i\t${s.texts(i)}\n"))
    finally w.close()
  }

  private def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema).option("sep", "\t").csv(path)

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val spark = ctx.spark
    val pick = new SplittableRandom(ctx.seed).nextInt(Shards - 1) + 1
    val shards = (0 until Shards).map(i => shard(ctx.seed, i, longChain = i == pick))
    // shards live as files, as a corpus would; written once, not timed
    val paths = shards.map { s =>
      val p = ctx.work.resolve(s"shard-${s.index}.tsv")
      write(s, p)
      p.toString
    }
    ctx.phase("shards written")
    val t = ctx.tracer
    val hashes = mutable.HashMap.empty[Int, Int]
    var tp, pred, planted = 0L
    // traced passes only: graft's call up to the returned frame, its
    // materialisation, and the frame, re-planned after the loop
    val buildMs, execMs = ArrayBuffer.empty[Double]
    val frames = ArrayBuffer.empty[DataFrame]

    /** One checked pass; the cluster id of every doc, or None if it threw. */
    def pass(s: Shard, traced: Boolean): Option[Array[Long]] = {
      out.attempted += 1
      val body = () => {
        val (df, bNs) = Stats.timed(Dedup.dedupClusters(read(spark, paths(s.index)), "doc_id", "text", fast = true)
          .select("doc_id", "cluster_id"))
        val (rows, eNs) = Stats.timed(df.collect())
        if (traced) {
          buildMs += Stats.nanosToMs(bNs); execMs += Stats.nanosToMs(eNs); frames += df
        }
        rows
      }
      val rows =
        try Some(if (traced) t.span("Dedup.dedupClusters")(body()) else body())
        catch {
          case NonFatal(e) =>
            out.thrown += 1
            out.notes += s"shard ${s.index}${if (s.longChain) " (long chain)" else ""}: ${e.getMessage}"
            None
        }
      rows.flatMap { rs =>
        val cluster = Array.fill(s.texts.length)(-1L)
        var ok = rs.length == s.texts.length
        rs.foreach { r =>
          val id = r.getLong(0).toInt
          if (id < 0 || id >= cluster.length || cluster(id) != -1L) ok = false
          else cluster(id) = r.getLong(1)
        }
        ok &&= !cluster.contains(-1L)
        val h = java.util.Arrays.hashCode(cluster)
        ok &&= hashes.getOrElseUpdate(s.index, h) == h
        if (!ok) {
          out.wrong += 1
          out.notes += s"shard ${s.index}: wrong or unstable assignment"
          None
        } else Some(cluster)
      }
    }

    // set-up: dedup has no set-up calls, so it is the warm-up pass over
    // shard 0, repeated; the measured cycle passes shard 0 again
    val setupNs = (1 to 2).map(_ => Stats.timed(pass(shards(0), traced = false))._2)

    ctx.phase("warm-up passes done")
    val passMs, tracedMs, plainMs = ArrayBuffer.empty[Double]
    val sigS, pairsS, ccS, candidates, precision = ArrayBuffer.empty[Double]
    val tracedOps = ArrayBuffer.empty[Long]
    var docsDone = 0L
    var opId = 0L

    /** Traced probes: each stage of the pipeline run and timed on its own. */
    def decompose(s: Shard): Unit = {
      val docs = read(spark, paths(s.index))
      sigS += Stats.nanosToS(Stats.timed(t.span("Dedup.minhashSignatures") {
        Dedup.minhashSignatures(docs, "doc_id", "text", fast = true).write.format("noop").mode("overwrite").save()
      })._2)
      val (pairs, pNs) = Stats.timed(t.span("Dedup.minhashCandidatePairs") {
        Dedup.minhashCandidatePairs(docs, "doc_id", "text", fast = true).localCheckpoint()
      })
      pairsS += Stats.nanosToS(pNs)
      val got = pairs.collect()
      candidates += got.length.toDouble
      val linked = got.count(r => { val a = s.truth(r.getLong(0).toInt); a >= 0 && a == s.truth(r.getLong(1).toInt) })
      precision += linked.toDouble / math.max(1, got.length)
      ccS += Stats.nanosToS(Stats.timed(try t.span("Dedup.connectedComponents") {
        Dedup.connectedComponents(pairs, docs.select("doc_id")).collect()
      } catch { case NonFatal(_) => () })._2)
    }

    val gc0 = Stats.gcSeconds()
    val start = System.nanoTime()
    val deadline = start + (ctx.seconds * 1e9).toLong
    // whole cycles over every shard, so each run sees the long chain once per cycle
    while (System.nanoTime() < deadline) shards.foreach { s =>
      opId += 1
      val traced = ctx.trace && opId % 2 == 0
      t.op = if (traced) opId else -1L
      val (r, ns) = Stats.timed(pass(s, traced))
      ctx.phase(s"pass over shard ${s.index}")
      r.foreach { cluster =>
        docsDone += cluster.length
        val (a, b, c) = pairCounts(s.truth, cluster)
        tp += a; pred += b; planted += c
      }
      passMs += Stats.nanosToMs(ns)
      if (ctx.trace) (if (traced) tracedMs else plainMs) += Stats.nanosToMs(ns)
      if (traced) {
        tracedOps += opId
        t.op = -opId
        decompose(s)
      }
    }
    val wallS = Stats.nanosToS(System.nanoTime() - start)
    ctx.phase("loop done")
    val gcS = Stats.gcSeconds() - gc0

    if (!ctx.trace) {
      Run.common(ctx, out, setupNs, 0L, passMs.toSeq, docsDone.toDouble, 2.0 * tp / math.max(1L, pred + planted))
      out.detail("dedup_docs_per_s", docsDone / wallS, "docs/s")
      out.notes += s"passes=${passMs.size} wall_s=$wallS"
    } else {
      t.drain()
      val ccSpans = t.all.filter(_.name == "Dedup.connectedComponents")
      out.detail("Dedup.minhashSignatures_s", Stats.median(sigS), "s")
      out.detail("Dedup.minhashCandidatePairs_s", Stats.median(pairsS), "s")
      out.detail("Dedup.candidate_pairs", Stats.mean(candidates), "count")
      out.detail("Dedup.candidate_precision", Stats.mean(precision), "ratio")
      out.detail("Dedup.connectedComponents_s", Stats.median(ccS), "s")
      out.detail("Dedup.connectedComponents.jobs", Stats.median(ccSpans.map(t.own(_).jobs.toDouble)), "count")
      Run.commonLayers(ctx, out, tracedOps.toSeq, gcS, Stats.median(tracedMs) - Stats.median(plainMs),
        setupNs.map(_.toDouble), buildMs.toSeq, execMs.toSeq, frames.map(Run.planningMs).toSeq)
    }
    out
  }
}

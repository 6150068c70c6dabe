package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.SplittableRandom
import java.util.zip.CRC32

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.operators.FragmentEngine

/** `frag_mixed`: the paper's fragmentation API on a seeded MovieLens-format
  * file — 40% `pointQuery`, 40% `rangeQuery` (width 0.5–1.0), 20% inserts
  * split evenly between `rangeInsert` and `roundRobinInsert`.
  *
  * Every query file is checked (line count and CRC32) against the
  * benchmark's own model of the table, which never runs through graft.
  */
object FragMixed {
  val Rows = 200000
  val Parts = 5
  val SetupReps = 2
  /** Half-star ratings and MovieLens-like weights (mode 4.0). */
  val Ratings: Array[Double] = Array(0.5, 1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0)
  val Weights: Array[Double] = Array(1.1, 3.3, 1.2, 7.9, 3.7, 21.6, 10.5, 28.8, 7.5, 14.4)

  private def drawRating(rnd: SplittableRandom): Double = {
    var x = rnd.nextDouble() * Weights.sum
    var i = 0
    while (i < Weights.length - 1 && x >= Weights(i)) { x -= Weights(i); i += 1 }
    Ratings(i)
  }

  /** One stored row: fragment, ids, rating and load-order id. */
  final case class Row(part: Int, u: Int, m: Int, r: Double, rowid: Long)

  /** The benchmark's model of the warehouse: what each scheme must hold. */
  final class Model {
    val range = ArrayBuffer.empty[Row]
    val roundRobin = ArrayBuffer.empty[Row]
    var masterRows = 0L
    var rrLast = -1

    /** Range bucket of a rating over [0, 5] in `Parts` unit-wide buckets:
      * the first closed, the rest open below.
      */
    def bucket(r: Double): Int = if (r <= 1.0) 0 else math.ceil(r).toInt - 1

    def load(rows: Seq[(Int, Int, Double)]): Unit = {
      rows.zipWithIndex.foreach { case ((u, m, r), i) =>
        range += Row(bucket(r), u, m, r, i.toLong)
        roundRobin += Row(i % Parts, u, m, r, i.toLong)
      }
      masterRows = rows.size.toLong
      rrLast = ((rows.size - 1) % Parts)
    }

    def rangeInsert(u: Int, m: Int, r: Double): Unit = {
      range += Row(bucket(r), u, m, r, masterRows)
      masterRows += 1
    }

    def roundRobinInsert(u: Int, m: Int, r: Double): Unit = {
      rrLast = (rrLast + 1) % Parts
      roundRobin += Row(rrLast, u, m, r, masterRows)
      masterRows += 1
    }

    /** Expected query-file lines for ratings in [lo, hi]: range fragments
      * ordered by (fragment, rating, load order), then round-robin
      * fragments ordered by (fragment, load order).
      */
    def expected(lo: Double, hi: Double): Seq[String] = {
      val a = range.filter(x => x.r >= lo && x.r <= hi)
        .sortBy(x => (x.part, x.r, x.rowid))
        .map(x => s"${FragmentEngine.RangePrefix}${x.part},${x.u},${x.m},${x.r}")
      val b = roundRobin.filter(x => x.r >= lo && x.r <= hi)
        .sortBy(x => (x.part, x.rowid))
        .map(x => s"${FragmentEngine.RoundRobinPrefix}${x.part},${x.u},${x.m},${x.r}")
      (a ++ b).toSeq
    }
  }

  private def crc(s: String): Long = {
    val c = new CRC32
    c.update(s.getBytes(StandardCharsets.UTF_8))
    c.getValue
  }

  /** Compare a query file (or collected lines) with the model's lines. */
  private def sameAs(expected: Seq[String], actual: String): Boolean = {
    val lines = if (actual.isEmpty) 0 else actual.count(_ == '\n') + 1
    lines == expected.size && crc(actual) == crc(expected.mkString("\n"))
  }

  sealed trait Op
  final case class Point(v: Double) extends Op
  final case class RangeQ(lo: Double, hi: Double) extends Op
  final case class Insert(range: Boolean, u: Int, m: Int, r: Double) extends Op

  /** The op sequence, dealt in decks of ten: four point queries, four range
    * queries, one insert of each kind, in seeded order. Point values cycle
    * through every half-star value, and each deck's four range queries take
    * their lower bounds from the four unit strata of [0.5, 4.5], so every
    * run holds the same mix.
    */
  private final class Ops(rnd: SplittableRandom) {
    private def shuffled[T: scala.reflect.ClassTag](xs: Seq[T]): Iterator[T] = {
      val a = xs.toArray
      for (i <- a.length - 1 to 1 by -1) {
        val j = rnd.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x
      }
      a.iterator
    }
    private def cycle[T](deal: => Iterator[T]): Iterator[T] = Iterator.continually(deal).flatten
    private val points = cycle(shuffled(Ratings.toSeq))
    private val strata = cycle(shuffled(0 until 4))
    private val deck = cycle(shuffled(Seq.fill(4)('p') ++ Seq.fill(4)('r') ++ Seq('i', 'j')))

    def next(): Op = deck.next() match {
      case 'p' => Point(points.next())
      case 'r' =>
        val lo = 0.5 + strata.next() + rnd.nextDouble()
        RangeQ(lo, lo + 0.5 + rnd.nextDouble() * 0.5)
      case kind => Insert(kind == 'i', 1 + rnd.nextInt(200000), 1 + rnd.nextInt(60000), drawRating(rnd))
    }
  }

  /** Scan metrics of a materialised frame: (files, partitions, rows). */
  private object Scans extends AdaptiveSparkPlanHelper {
    def of(df: DataFrame): (Long, Long, Long) = {
      val scans = collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      def m(k: String) = scans.flatMap(_.metrics.get(k)).map(_.value).sum
      (m("numFiles"), m("numPartitions"), m("numOutputRows"))
    }
  }

  /** Rows of a wrong or missing query output against the model's, as
    * multisets: (matching, returned).
    */
  private def rowMatches(expected: Seq[String], actual: Option[String]): (Long, Long) = {
    val got = actual.filter(_.nonEmpty).map(_.split("\n", -1).toSeq).getOrElse(Nil)
    val want = expected.groupBy(identity).map { case (l, ls) => l -> ls.size }
    val tp = got.groupBy(identity).map { case (l, ls) => math.min(ls.size, want.getOrElse(l, 0)) }.sum
    (tp.toLong, got.size.toLong)
  }

  def run(ctx: Ctx): Outcome = {
    val out = new Outcome
    val rnd = new SplittableRandom(ctx.seed)
    val ops = new Ops(rnd.split())
    val rows = Seq.fill(Rows)((1 + rnd.nextInt(200000), 1 + rnd.nextInt(60000), drawRating(rnd)))
    val input = ctx.work.resolve("ratings.dat")
    Files.write(input, rows.zipWithIndex.map { case ((u, m, r), i) => s"$u::$m::$r::${978300000 + i}" }
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val model = new Model
    model.load(rows)
    val outFile = ctx.work.resolve("query-result.txt")
    ctx.phase("input written")

    // rows of every checked query output: matching, returned, expected
    var rowsTp, rowsGot, rowsWant = 0L
    /** A query must leave a file that matches the model; an insert's rows
      * are checked by the queries after it.
      */
    def check(op: Op): Boolean = {
      val bounds = op match {
        case Point(v)       => Some((v, v))
        case RangeQ(lo, hi) => Some((lo, hi))
        case _: Insert      => None
      }
      bounds.forall { case (lo, hi) =>
        val want = model.expected(lo, hi)
        val got = if (Files.exists(outFile)) Some(Files.readString(outFile)) else None
        val same = got.exists(sameAs(want, _))
        val (tp, n) = if (same) (want.size.toLong, want.size.toLong) else rowMatches(want, got)
        rowsTp += tp; rowsGot += n; rowsWant += want.size
        same
      }
    }

    def call(engine: FragmentEngine, op: Op): Unit = op match {
      case Point(v)       => engine.pointQuery(v, outFile.toString)
      case RangeQ(lo, hi) => engine.rangeQuery(lo, hi, outFile.toString)
      case Insert(true, u, m, r) =>
        engine.rangeInsert("ratings", u, m, r); model.rangeInsert(u, m, r)
      case Insert(false, u, m, r) =>
        engine.roundRobinInsert("ratings", u, m, r); model.roundRobinInsert(u, m, r)
    }

    // set-up, repeated: a fresh warehouse each time, the last one kept
    val t = ctx.tracer
    val loadNs, rangeNs, rrNs, callsNs = ArrayBuffer.empty[Double]
    var engine: FragmentEngine = null
    val setupNs = (1 to SetupReps).map { rep =>
      if (engine != null) Run.deleteTree(Paths.get(engine.dataRoot))
      Stats.timed {
        engine = new FragmentEngine(ctx.spark, ctx.dir(s"warehouse-$rep").toString)
        loadNs += Stats.timed(engine.loadRatings("ratings", input.toString))._2
        rangeNs += Stats.timed(engine.rangePartition("ratings", Parts))._2
        rrNs += Stats.timed(engine.roundRobinPartition("ratings", Parts))._2
        callsNs += loadNs.last + rangeNs.last + rrNs.last
      }._2
    }
    // warm-up: every kind of operation, checked like any other
    val warmUp = Seq(Point(4.0), RangeQ(1.2, 2.0), Insert(true, 7, 11, 3.5), Point(1.5),
      RangeQ(3.1, 4.0), Insert(false, 13, 17, 2.0))
    val warmNs = Stats.timed(warmUp.foreach { op =>
      Files.deleteIfExists(outFile)
      call(engine, op)
      out.attempted += 1
      if (!check(op)) { out.wrong += 1; out.notes += s"wrong result for warm-up $op" }
    })._2
    ctx.phase("set-up and warm-up done")
    val warehouse = Paths.get(engine.dataRoot)

    val pointMs, rangeMs, insertMs, opMs = ArrayBuffer.empty[Double]
    var okOps = 0L
    // traced run only
    val tracedMs, plainMs = ArrayBuffer.empty[Double]
    val buildMs = Map("point" -> ArrayBuffer.empty[Double], "range" -> ArrayBuffer.empty[Double])
    val execMs = Map("point" -> ArrayBuffer.empty[Double], "range" -> ArrayBuffer.empty[Double])
    val metaMs, probeMs, planMs = ArrayBuffer.empty[Double]
    val filesScanned, partsScanned, rowsPerRow, insertFiles = ArrayBuffer.empty[Double]
    val tracedOps = ArrayBuffer.empty[Long]
    val tracedInserts = ArrayBuffer.empty[Long]
    var opId = 0L

    /** Traced probes after a query: the frames built and materialised by
      * the benchmark itself, checked against the model as well.
      */
    def decompose(kind: String, lo: Double, hi: Double): Boolean = {
      metaMs += Stats.nanosToMs(Stats.timed(t.span("FragmentCatalog.readMeta") {
        engine.catalog.readRangeMeta(); engine.catalog.readRoundRobinMeta()
      })._2)
      probeMs += Stats.nanosToMs(Stats.timed(t.span("FragmentTxn.recoverIfPending") {
        graft.perfbench.Probe.recoverIfPending(ctx.spark, engine.dataRoot)
      })._2)
      val ((a, b), bNs) = Stats.timed(t.span(s"FragmentEngine.$kind.build") {
        if (kind == "point") engine.pointQueryDF(lo) else engine.rangeQueryDF(lo, hi)
      })
      val (got, eNs) = Stats.timed(t.span(s"FragmentEngine.$kind.exec") { (a.collect(), b.collect()) })
      buildMs(kind) += Stats.nanosToMs(bNs)
      execMs(kind) += Stats.nanosToMs(eNs)
      planMs += Run.planningMs(a) + Run.planningMs(b)
      val (fa, pa, ra) = Scans.of(a)
      val (fb, pb, rb) = Scans.of(b)
      filesScanned += (fa + fb).toDouble
      partsScanned += (pa + pb).toDouble
      val returned = got._1.length + got._2.length
      rowsPerRow += (ra + rb).toDouble / math.max(1, returned)
      val lines = (got._1 ++ got._2).map(r => s"${r.getString(0)},${r.getInt(1)},${r.getInt(2)},${r.getDouble(3)}")
      sameAs(model.expected(lo, hi), lines.mkString("\n"))
    }

    val gc0 = Stats.gcSeconds()
    val start = System.nanoTime()
    val deadline = start + (ctx.seconds * 1e9).toLong
    // past the deadline only until every reported median has a sample
    def sampled = Seq(pointMs, rangeMs, insertMs).forall(_.nonEmpty) &&
      (!ctx.trace || (Seq(buildMs("point"), buildMs("range"), plainMs).forall(_.nonEmpty) && tracedInserts.nonEmpty))
    while (System.nanoTime() < deadline || !sampled) {
      val op = ops.next()
      opId += 1
      val traced = ctx.trace && opId % 2 == 0
      t.op = if (traced) opId else -1L
      val filesBefore = if (traced && op.isInstanceOf[Insert]) Run.treeFiles(warehouse) else 0L
      val name = op match {
        case _: Point  => "FragmentEngine.pointQuery"
        case _: RangeQ => "FragmentEngine.rangeQuery"
        case Insert(true, _, _, _)  => "FragmentEngine.rangeInsert"
        case Insert(false, _, _, _) => "FragmentEngine.roundRobinInsert"
      }
      Files.deleteIfExists(outFile)
      val (_, ns) = Stats.timed(if (traced) t.span(name)(call(engine, op)) else call(engine, op))
      out.attempted += 1
      var ok = check(op)
      val ms = Stats.nanosToMs(ns)
      opMs += ms
      op match {
        case _: Point  => pointMs += ms
        case _: RangeQ => rangeMs += ms
        case _: Insert => insertMs += ms
      }
      if (ctx.trace) (if (traced) tracedMs else plainMs) += ms
      if (traced) {
        tracedOps += opId
        t.op = -opId // the probes below are not part of the operation
        op match {
          case Point(v)       => ok &= decompose("point", v, v)
          case RangeQ(lo, hi) => ok &= decompose("range", lo, hi)
          case _: Insert =>
            tracedInserts += opId
            insertFiles += (Run.treeFiles(warehouse) - filesBefore).toDouble
        }
      }
      if (!ok) {
        out.wrong += 1
        out.notes += s"wrong result for $op"
      } else okOps += 1
    }
    val gcS = Stats.gcSeconds() - gc0
    ctx.phase("loop done")

    if (!ctx.trace) {
      Run.common(ctx, out, setupNs, warmNs, opMs.toSeq, okOps.toDouble,
        2.0 * rowsTp / math.max(1L, rowsGot + rowsWant))
      out.detail("point_ms_p50", Stats.median(pointMs), "ms")
      out.detail("range_ms_p50", Stats.median(rangeMs), "ms")
      out.detail("insert_ms_p50", Stats.median(insertMs), "ms")
      out.detail("query_ms_p50", Stats.median(pointMs ++ rangeMs), "ms")
      out.detail("query_ms_p90", Stats.quantile(pointMs ++ rangeMs, 0.9), "ms")
      out.detail("bytes_per_row", Run.treeBytes(warehouse).toDouble / model.masterRows, "bytes")
      out.notes += s"queries=${pointMs.size + rangeMs.size} inserts=${insertMs.size}"
    } else {
      t.drain()
      Seq("point", "range").foreach { k =>
        out.detail(s"FragmentEngine.$k.build_ms_p50", Stats.median(buildMs(k)), "ms")
        out.detail(s"FragmentEngine.$k.exec_ms_p50", Stats.median(execMs(k)), "ms")
      }
      out.detail("FragmentEngine.query.files_scanned", Stats.mean(filesScanned), "count")
      out.detail("FragmentEngine.query.partitions_scanned", Stats.mean(partsScanned), "count")
      out.detail("FragmentEngine.query.rows_scanned_per_row_returned", Stats.median(rowsPerRow), "ratio")
      out.detail("FragmentEngine.insert.jobs", Stats.mean(tracedInserts.map(t.ofOp(_).jobs.toDouble)), "count")
      out.detail("FragmentEngine.insert.files_written", Stats.mean(insertFiles), "count")
      out.detail("FragmentCatalog.read_meta_ms_p50", Stats.median(metaMs), "ms")
      out.detail("FragmentTxn.recover_probe_ms_p50", Stats.median(probeMs), "ms")
      out.detail("FragmentEngine.loadRatings_s", Stats.median(loadNs) / 1e9, "s")
      out.detail("FragmentEngine.rangePartition_s", Stats.median(rangeNs) / 1e9, "s")
      out.detail("FragmentEngine.roundRobinPartition_s", Stats.median(rrNs) / 1e9, "s")
      Run.commonLayers(ctx, out, tracedOps.toSeq, gcS, Stats.median(tracedMs) - Stats.median(plainMs),
        callsNs.toSeq, (buildMs("point") ++ buildMs("range")).toSeq,
        (execMs("point") ++ execMs("range")).toSeq, planMs.toSeq)
    }
    out
  }
}

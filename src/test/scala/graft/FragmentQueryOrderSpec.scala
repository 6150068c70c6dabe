package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.graft.ListenerBus
import org.apache.spark.metrics.source.CodegenMetrics

import graft.operators.FragmentEngine

/** `pointQuery`/`rangeQuery` output against a plain-Scala model of both
  * fragmentation schemes, line for line, on a generated ratings file (no
  * external fixture): range side ordered by (part, rating, load order),
  * round-robin side by (part, load order), range side first. Fragments hold
  * several files (partition writes plus routed inserts), so the order must
  * come from the query, not from file layout. Also guards the shape of a
  * query (one job, one task per scheme side) and that a query on a new value
  * compiles no code.
  */
class FragmentQueryOrderSpec extends SparkSpec {
  import FragmentQueryOrderSpec.Rating

  private val N = 5

  /** The reference's bucket rule on [0, 5] with unit-width buckets: bucket 0
    * is closed [0, 1], every later bucket i is (i, i + 1].
    */
  private def bucket(r: Double): Option[Int] =
    if (r >= 0.0 && r <= 1.0) Some(0) else (1 until N).find(i => r > i && r <= i + 1)

  /** Both schemes' fragment contents, maintained exactly as the reference's
    * partition and insert functions do.
    */
  private final class Model(loaded: Seq[Rating]) {
    var nextId: Long = loaded.size.toLong
    var range: Vector[(Int, Rating)] = loaded.flatMap(x => bucket(x.r).map(_ -> x)).toVector
    var rr: Vector[(Int, Rating)] = loaded.map(x => (x.id % N).toInt -> x).toVector
    var lastRr: Int = ((loaded.size - 1) % N)

    def rangeInsert(u: Int, m: Int, r: Double): Unit = {
      bucket(r).foreach(p => range :+= p -> Rating(u, m, r, nextId))
      nextId += 1
    }
    def roundRobinInsert(u: Int, m: Int, r: Double): Unit = {
      lastRr = (lastRr + 1) % N
      rr :+= lastRr -> Rating(u, m, r, nextId)
      nextId += 1
    }
    def query(keep: Double => Boolean): String = {
      val rangeSide = range.filter(x => keep(x._2.r))
        .sortBy { case (p, x) => (p, x.r, x.id) }
        .map { case (p, x) => x.line(FragmentEngine.RangePrefix, p) }
      val rrSide = rr.filter(x => keep(x._2.r))
        .sortBy { case (p, x) => (p, x.id) }
        .map { case (p, x) => x.line(FragmentEngine.RoundRobinPrefix, p) }
      (rangeSide ++ rrSide).mkString("\n")
    }
  }

  /** 300 half-star ratings in load order, every 40th one out of the domain
    * (5.5: master and round-robin only, no range fragment).
    */
  private val loaded: Seq[Rating] = {
    val rnd = new scala.util.Random(17)
    (0 until 300).map { i =>
      val r = if (i % 40 == 39) 5.5 else rnd.nextInt(11) * 0.5
      Rating(1 + rnd.nextInt(60), 1 + rnd.nextInt(900), r, i.toLong)
    }
  }

  private def read(path: String): String =
    new String(Files.readAllBytes(Paths.get(path)), StandardCharsets.UTF_8)

  private def assertSameLines(got: String, want: String, what: String): Unit =
    if (got != want) {
      val (g, w) = (got.split("\n", -1), want.split("\n", -1))
      val at = g.indices.find(i => i >= w.length || g(i) != w(i)).getOrElse(g.length)
      fail(s"$what: ${g.length} lines vs ${w.length} expected; first difference at line " +
        s"${at + 1}: got ${g.lift(at)}, want ${w.lift(at)}")
    }

  private def withFragments(f: (FragmentEngine, Model, String) => Unit): Unit =
    withTempDir { root =>
      val input = s"$root/ratings.dat"
      Files.write(Paths.get(input), loaded
        .map(x => s"${x.u}::${x.m}::${x.r}::${978300000 + x.id}")
        .mkString("\n").getBytes(StandardCharsets.UTF_8))
      val e = new FragmentEngine(spark, s"$root/wh")
      e.loadRatings("ratings", input)
      e.rangePartition("ratings", N)
      e.roundRobinPartition("ratings", N)
      val model = new Model(loaded)
      // two routed inserts of each kind, onto values the queries below hit
      for ((kind, u, m, r) <- Seq(("range", 901, 11, 2.5), ("rr", 902, 12, 2.5),
                                  ("range", 903, 13, 5.0), ("rr", 904, 14, 5.5))) {
        if (kind == "range") {
          e.rangeInsert("ratings", u, m, r); model.rangeInsert(u, m, r)
        } else {
          e.roundRobinInsert("ratings", u, m, r); model.roundRobinInsert(u, m, r)
        }
      }
      f(e, model, root)
    }

  test("pointQuery/rangeQuery output equals the two-scheme model line for line") {
    withFragments { (e, model, root) =>
      val out = s"$root/out.txt"
      // in-domain, both domain edges, a bucket edge (1.0 closes bucket 0),
      // and out of the domain (no range fragment can hold 5.5: the range
      // side is empty, round-robin is not)
      for (v <- Seq(2.5, 0.0, 1.0, 5.0, 5.5)) {
        e.pointQuery(v, out)
        val want = model.query(_ == v)
        if (v == 5.5) assert(!want.contains(FragmentEngine.RangePrefix) && want.nonEmpty)
        assertSameLines(read(out), want, s"pointQuery($v)")
      }
      // a bucket edge (1.0 lies in bucket 0), the whole domain, and a range
      // between half-stars that matches nothing
      for ((lo, hi) <- Seq((1.5, 3.5), (1.0, 2.0), (0.0, 5.0), (2.1, 2.4))) {
        e.rangeQuery(lo, hi, out)
        val want = model.query(r => r >= lo && r <= hi)
        if (lo == 2.1) assert(want.isEmpty)
        assertSameLines(read(out), want, s"rangeQuery($lo, $hi)")
      }
      // a rating no loaded row holds, inserted into the range scheme only:
      // one range line and an empty round-robin block, so the file is that
      // line alone, with no newline after it
      e.rangeInsert("ratings", 905, 15, 3.25); model.rangeInsert(905, 15, 3.25)
      e.pointQuery(3.25, out)
      val want = model.query(_ == 3.25)
      assert(want.startsWith(FragmentEngine.RangePrefix) && !want.contains("\n"))
      assertSameLines(read(out), want, "pointQuery(3.25)")
    }
  }

  test("queries on new values generate no code after a first point and range query") {
    withFragments { (e, model, root) =>
      val out = s"$root/out.txt"
      e.pointQuery(2.5, out)
      e.rangeQuery(1.5, 3.5, out)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
      val before = compiles.getCount
      // values bound by reference: a new value is the same generated source
      e.pointQuery(4.5, out)
      assertSameLines(read(out), model.query(_ == 4.5), "pointQuery(4.5)")
      e.rangeQuery(0.7, 4.2, out)
      assertSameLines(read(out), model.query(r => r >= 0.7 && r <= 4.2), "rangeQuery(0.7, 4.2)")
      assert(compiles.getCount == before,
        s"${compiles.getCount - before} compiles for queries on new values")
    }
  }

  test("a pointQuery and a rangeQuery each submit exactly one Spark job") {
    withFragments { (e, _, root) =>
      val sc = spark.sparkContext
      def jobs(group: String)(run: => Unit): Int = {
        sc.setJobGroup(group, group, interruptOnCancel = false)
        try run finally sc.clearJobGroup()
        ListenerBus.drain(sc)
        sc.statusTracker.getJobIdsForGroup(group).length
      }
      // one task per scheme side: the range side and the round-robin side
      def tasks(group: String): Int =
        sc.statusTracker.getJobIdsForGroup(group).toSeq
          .flatMap(sc.statusTracker.getJobInfo(_).toSeq.flatMap(_.stageIds))
          .flatMap(sc.statusTracker.getStageInfo(_).map(_.numTasks))
          .sum
      val id = java.util.UUID.randomUUID().toString.take(8)
      assert(jobs(s"point-$id")(e.pointQuery(2.5, s"$root/p.txt")) == 1)
      assert(tasks(s"point-$id") == 2)
      assert(jobs(s"range-$id")(e.rangeQuery(1.5, 3.5, s"$root/r.txt")) == 1)
      assert(tasks(s"range-$id") == 2)
      // the job produced the output (the public API logs errors, not throws)
      assert(read(s"$root/p.txt").nonEmpty && read(s"$root/r.txt").nonEmpty)
    }
  }
}

object FragmentQueryOrderSpec {
  private final case class Rating(u: Int, m: Int, r: Double, id: Long) {
    def line(prefix: String, part: Int): String = s"$prefix$part,$u,$m,$r"
  }
}

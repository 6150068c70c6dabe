package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.FragmentEngine

/** Reference-parity suite over the MovieLens fixture, mirroring the oracle
  * styles of reference `testHelper1.py` / `tester1.py` (SURVEY §5):
  * golden outputs, fragmentation invariants, per-fragment count oracles,
  * insert placement, load count. The golden tests load the reference's own
  * `test_data1.txt`; every other test loads the in-repo [[RatingsFixture]].
  */
class FragmentEngineSpec extends SparkSpec {

  /** A file of the reference fixture; the golden tests fail (never skip)
    * when it is absent, naming the missing path.
    */
  private def reference(name: String): String = {
    val p = Paths.get("/root/reference", name)
    if (!Files.isRegularFile(p)) fail(s"reference file $p is missing; the golden byte-parity test needs it")
    p.toString
  }
  private def golden(name: String): String =
    new String(Files.readAllBytes(Paths.get(reference(name))), StandardCharsets.UTF_8)

  private def freshEngine(root: String, input: String = RatingsFixture.path): FragmentEngine = {
    val e = new FragmentEngine(spark, root)
    e.loadRatings("ratings", input)
    e
  }

  test("loadRatings: row count equals input line count, timestamp dropped") {
    withTempDir { root =>
      val e = freshEngine(root)
      val m = e.master()
      assert(m.count() === 20)
      assert(m.columns.toSet === Set("userid", "movieid", "rating", "_rowid"))
      // rating of line `1::122::5::...` is 5.0 (timestamp 838985046 dropped)
      assert(m.filter(col("movieid") === 122).head().getAs[Double]("rating") === 5.0)
    }
  }

  test("rangeQuery(1.5, 3.5) reproduces golden rangeResult.txt byte-for-byte") {
    val input = reference("test_data1.txt")
    val expected = golden("rangeResult.txt")
    withTempDir { root =>
      val e = freshEngine(root, input)
      e.rangePartition("ratings", 5)
      e.roundRobinPartition("ratings", 5)
      val out = s"$root/rangeResult.txt"
      e.rangeQuery(1.5, 3.5, out)
      val got = new String(Files.readAllBytes(Paths.get(out)), StandardCharsets.UTF_8)
      assert(got === expected)
    }
  }

  test("pointQuery(4.5) reproduces golden pointResult.txt byte-for-byte") {
    val input = reference("test_data1.txt")
    val expected = golden("pointResult.txt")
    withTempDir { root =>
      val e = freshEngine(root, input)
      e.rangePartition("ratings", 5)
      e.roundRobinPartition("ratings", 5)
      val out = s"$root/pointResult.txt"
      e.pointQuery(4.5, out)
      val got = new String(Files.readAllBytes(Paths.get(out)), StandardCharsets.UTF_8)
      assert(got === expected)
    }
  }

  test("range fragmentation invariants: completeness, disjointness, reconstruction") {
    withTempDir { root =>
      val e = freshEngine(root)
      e.rangePartition("ratings", 5)
      val frags = spark.read.parquet(s"$root/${FragmentEngine.RangeDataset}")
      // reconstruction: union of fragments == input count (=> completeness + disjointness)
      assert(frags.count() === 20)
      // per-row disjointness: no (userid, movieid, _rowid) in two fragments
      assert(frags.select("_rowid").distinct().count() === 20)
    }
  }

  test("range per-fragment counts match the boundary-rule oracle") {
    withTempDir { root =>
      val e = freshEngine(root)
      val n = 5
      e.rangePartition("ratings", n)
      val buckets = RangeBuckets(n, 0.0, 5.0)
      val expected = e
        .master()
        .collect()
        .map(r => buckets.bucketOf(r.getAs[Double]("rating")))
        .groupBy(identity)
        .view
        .mapValues(_.length.toLong)
        .toMap
      val got = spark.read
        .parquet(s"$root/${FragmentEngine.RangeDataset}")
        .groupBy("part")
        .count()
        .collect()
        .map(r => r.getAs[Int]("part") -> r.getAs[Long]("count"))
        .toMap
      assert(got === expected)
    }
  }

  test("round-robin per-fragment counts match the row_number mod n oracle") {
    withTempDir { root =>
      val e = freshEngine(root)
      val n = 5
      e.roundRobinPartition("ratings", n)
      val got = spark.read
        .parquet(s"$root/${FragmentEngine.RoundRobinDataset}")
        .groupBy("part")
        .count()
        .collect()
        .map(r => r.getAs[Int]("part") -> r.getAs[Long]("count"))
        .toMap
      // 20 rows, n=5 → every fragment has exactly 4 rows
      assert(got === (0 until n).map(_ -> 4L).toMap)
    }
  }

  test("rangeInsert routes rating 3.0 (n=5) into fragment 2 and master") {
    withTempDir { root =>
      val e = freshEngine(root)
      e.rangePartition("ratings", 5)
      e.rangeInsert("ratings", 100, 2, 3.0)
      assert(e.master().count() === 21)
      val frag2 = spark.read
        .parquet(s"$root/${FragmentEngine.RangeDataset}")
        .filter(col("part") === 2 && col("userid") === 100 && col("movieid") === 2)
      assert(frag2.count() === 1)
    }
  }

  test("roundRobinInsert routes the 21st row into fragment 0, advances counter") {
    withTempDir { root =>
      val e = freshEngine(root)
      e.roundRobinPartition("ratings", 5)
      e.roundRobinInsert("ratings", 100, 1, 3.0)
      assert(e.master().count() === 21)
      val frag0 = spark.read
        .parquet(s"$root/${FragmentEngine.RoundRobinDataset}")
        .filter(col("part") === 0 && col("userid") === 100 && col("movieid") === 1)
      assert(frag0.count() === 1)
      assert(e.catalog.readRoundRobinMeta().get.lastInserted === 0L)
    }
  }

  test("invalid n is a no-op (reference best-effort error style)") {
    withTempDir { root =>
      val e = freshEngine(root)
      e.rangePartition("ratings", 0)   // swallowed, prints
      e.roundRobinPartition("ratings", -3)
      assert(!e.catalog.tableExists(FragmentEngine.RangeDataset))
      assert(e.catalog.readRangeMeta().isEmpty)
    }
  }

  test("deleteTables: single table and ALL") {
    withTempDir { root =>
      val e = freshEngine(root)
      e.rangePartition("ratings", 5)
      e.deleteTables("ratings")
      assert(!e.catalog.tableExists("ratings"))
      assert(e.catalog.tableExists(FragmentEngine.RangeDataset))
      e.deleteTables("ALL")
      assert(e.catalog.listTables().isEmpty)
      assert(e.catalog.readRangeMeta().isEmpty)
    }
  }

  test("query pruning: point query reads exactly one range fragment directory") {
    withTempDir { root =>
      val e = freshEngine(root)
      e.rangePartition("ratings", 5)
      e.roundRobinPartition("ratings", 5)
      val (rangeSide, _) = e.pointQueryDF(4.5)
      val plan = rangeSide.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      val scan = plan.collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scan.isDefined)
      // partitionFilters prune at the FileIndex: only part=4 files selected
      assert(scan.get.partitionFilters.nonEmpty)
      val selected = scan.get.relation.location
        .listFiles(scan.get.partitionFilters, scan.get.dataFilters)
      assert(selected.map(_.files.size).sum > 0)
      assert(selected.size === 1)
    }
  }

  test("mergeIntoStrict: distributed merge re-routes, inserts, and rewrites only affected dirs") {
    withTempDir { root =>
      val s = spark
      import s.implicits._
      val e = freshEngine(root)
      e.rangePartition("ratings", 5)
      e.roundRobinPartition("ratings", 5)
      val masterBefore = e.master().count()
      val old = e.rangeFragments()
        .filter(col("userid") === 1 && col("movieid") === 122)
        .select("_rowid", "part").head()
      val (oldId, oldPart) = (old.getLong(0), old.getInt(1))
      assert(oldPart === 4, "1::122 rated 5.0 starts in fragment 4")
      // fragment 0's files must be untouched by a merge that never routes
      // into or out of it (fixture ratings at 1.0 exist; source touches
      // only (1,122)->2.0 and a brand-new key at 4.5)
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
      def frag0Files() = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"$root/range_ratings/part=0"))
        .map(st => (st.getPath.getName, st.getModificationTime, st.getLen)).toSet
      val frag0Before = frag0Files()

      val src = Seq((1, 122, 2.0), (555, 666, 4.5)).toDF("userid", "movieid", "rating")
      val (nm, ni) = e.mergeIntoStrict(FragmentEngine.RangeDataset, "ratings", src)
      assert((nm, ni) === ((1L, 1L)))

      // matched row moved across the boundary with the same load id
      val moved = e.rangeFragments().filter(col("_rowid") === oldId)
      assert(moved.count() === 1)
      assert(moved.head().getAs[Int]("part") === 1, "2.0 re-routes to ((1,2])")
      assert(moved.head().getAs[Double]("rating") === 2.0)
      // insert routed with a fresh id; master mirrors both
      val ins = e.rangeFragments().filter(col("userid") === 555)
      assert(ins.count() === 1 && ins.head().getAs[Int]("part") === 4)
      assert(e.master().count() === masterBefore + 1)
      assert(e.master().filter(col("_rowid") === oldId).head().getAs[Double]("rating") === 2.0)
      // partition-granular: the uninvolved fragment directory is byte- and
      // mtime-identical (never staged, never swapped)
      assert(frag0Files() === frag0Before, "fragment 0 must not be rewritten")
      // the OTHER scheme is untouched, symmetric with the SQL surface
      assert(spark.read.parquet(s"$root/round_robin_ratings")
        .filter(col("userid") === 555).count() === 0)
      // duplicate source keys are refused before anything lands
      val dup = Seq((9, 9, 1.0), (9, 9, 2.0)).toDF("userid", "movieid", "rating")
      intercept[IllegalArgumentException] {
        e.mergeIntoStrict(FragmentEngine.RangeDataset, "ratings", dup)
      }
      assert(e.master().filter(col("userid") === 9).count() === 0)
    }
  }

  test("master mirror is bucketed: a small MERGE rewrites only the touched mb buckets") {
    withTempDir { root =>
      val s = spark
      import s.implicits._
      spark.conf.set(FragmentEngine.MasterBucketSpanKey, "4")
      try {
        val e = freshEngine(root) // 20 rows at span 4 -> mb=0..4
        e.rangePartition("ratings", 5)
        val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sessionState.newHadoopConf())
        def mbDirs(): Map[String, Set[(String, Long, Long)]] = fs
          .listStatus(new org.apache.hadoop.fs.Path(s"$root/ratings"))
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("mb="))
          .map(d => d.getPath.getName -> fs.listStatus(d.getPath)
            .map(st => (st.getPath.getName, st.getModificationTime, st.getLen)).toSet)
          .toMap
        val before = mbDirs()
        assert(before.keySet == Set("mb=0", "mb=1", "mb=2", "mb=3", "mb=4"),
          s"20-row master at span 4 must hold 5 buckets, got ${before.keySet}")

        // update the row with _rowid 0 (bucket mb=0) and insert one new row
        // (fresh id 20 -> the NEW bucket mb=5); buckets 1..4 are untouched
        val r0 = e.master().filter(col("_rowid") === 0L).head()
        val src = Seq(
          (r0.getInt(0), r0.getInt(1), 2.0),
          (555, 666, 4.5)
        ).toDF("userid", "movieid", "rating")
        val (nm, ni) = e.mergeIntoStrict(FragmentEngine.RangeDataset, "ratings", src)
        assert((nm, ni) === ((1L, 1L)))

        val after = mbDirs()
        assert(after.keySet == before.keySet + "mb=5",
          "the insert's fresh id must open ONLY the next bucket")
        for (b <- Seq("mb=1", "mb=2", "mb=3", "mb=4"))
          assert(after(b) == before(b),
            s"untouched master bucket $b must stay byte+mtime identical")
        assert(after("mb=0") != before("mb=0"), "the updated row's bucket rewrites")
        // content contract intact through the 4-column master surface
        assert(e.master().count() == 21L)
        assert(e.master().filter(col("_rowid") === 0L).head().getAs[Double]("rating") == 2.0)
        assert(e.master().columns.toSeq ==
          Seq("userid", "movieid", "rating", "_rowid"), "mb stays internal")

        // a DELETE against one bucket equally leaves the others untouched
        val beforeDel = mbDirs()
        val del = e.deleteWhereStrict(FragmentEngine.RangeDataset, "ratings",
          col("_rowid") === 5L) // bucket mb=1
        assert(del == 1L)
        val afterDel = mbDirs()
        for (b <- Seq("mb=0", "mb=2", "mb=3", "mb=4", "mb=5"))
          assert(afterDel(b) == beforeDel(b),
            s"bucket $b must survive a one-row delete untouched")
        assert(afterDel("mb=1") != beforeDel("mb=1"))
      } finally spark.conf.unset(FragmentEngine.MasterBucketSpanKey)
    }
  }
}

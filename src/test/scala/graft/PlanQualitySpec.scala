package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.FragmentEngine

/** Asserts the physical-plan properties the 100 TB design depends on — not
  * just that queries return correct rows, but that they execute with the
  * shapes that survive scale: scan-level filter/projection pushdown,
  * broadcast joins for dims, TakeOrdered for top-k, partial aggregation,
  * whole-stage codegen, and Hive-partition pruning for fragment queries.
  */
class PlanQualitySpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** AQE query stages don't expose their subtrees as children, so scan-level
    * assertions plan with AQE off (the static plan has the same FileIndex
    * pruning behavior).
    */
  private def withoutAqe[A](f: => A): A = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try f
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  /** Execute (so AQE finalizes) and unwrap the adaptive root. */
  private def finalPlan(df: DataFrame): org.apache.spark.sql.execution.SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
  }
  private def executedPlan(df: DataFrame): String = finalPlan(df).toString
  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("filter and projection push into the parquet scan") {
    val df = Tables
      .lineitem(spark, sf)
      .filter(col("l_quantity") === 25.0)
      .select("l_orderkey", "l_quantity")
    val plan = formatted(df)
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), EqualTo(l_quantity,25.0)]"), plan)
    // column pruning: only the two referenced columns are read
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"), plan)
  }

  test("dim joins broadcast (no shuffle of the fact side)") {
    val plan = executedPlan(
      SparkEntry.queries("q_join_broadcast_dims")(spark, sf)
    )
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("semi and anti joins plan as LeftSemi/LeftAnti (no row multiplication)") {
    val semi = executedPlan(SparkEntry.queries("q_semi_join_priority")(spark, sf))
    assert(semi.contains("LeftSemi"), semi)
    val anti = executedPlan(SparkEntry.queries("q_anti_join_no_orders")(spark, sf))
    assert(anti.contains("LeftAnti"), anti)
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val plan = executedPlan(SparkEntry.queries("q_topk")(spark, sf))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("group-by aggregation is partial (map-side combine before shuffle)") {
    val plan = executedPlan(SparkEntry.queries("q_agg_pricing_summary")(spark, sf))
    // partial then final HashAggregate around the exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("partial_sum") || plan.contains("partial_count"), plan)
  }

  test("pricing summary runs inside WholeStageCodegen") {
    // "*(n)" node prefixes mark whole-stage-codegen stages in plan strings
    val plan = executedPlan(SparkEntry.queries("q_agg_pricing_summary")(spark, sf))
    assert(plan.contains("*("), plan)
  }

  test("graft_dot is codegen-compatible (no CodegenFallback in the plan)") {
    graft.functions.VectorExpressions.install(spark)
    val df = Tables
      .embeddings(spark, sf)
      .withColumn("n2", expr("graft_dot(embedding, embedding)"))
      .filter(col("n2") > 0)
    assert(df.count() > 0)
    // the Filter/Project evaluating graft_dot must carry the codegen marker
    // (a CodegenFallback expression would split the codegen stage)
    val plan = executedPlan(df)
    assert(plan.linesIterator.exists(l => l.contains("*(") && l.contains("graft_dot")), plan)
  }

  test("curation plans: broadcast eval side, no cartesian, keyed pack window") {
    // decontamination: the eval side broadcasts; the join is a hash join on
    // the shingle key — never a nested-loop/cartesian product
    val decon = executedPlan(SparkEntry.queries("cur_decontamination")(spark, sf))
    assert(decon.contains("BroadcastHashJoin"), decon)
    assert(!decon.contains("CartesianProduct") && !decon.contains("BroadcastNestedLoopJoin"), decon)
    // blocked near-dup: bucket equi-joins only — the cartesian baseline must
    // not appear in the driver entry's plan
    val ndup = executedPlan(SparkEntry.queries("dedup_embedding_cosine")(spark, sf))
    assert(!ndup.contains("CartesianProduct") && !ndup.contains("BroadcastNestedLoopJoin"), ndup)
    // token packing: the running-total window partitions by the stratum key
    val pack = executedPlan(SparkEntry.queries("cur_token_packing")(spark, sf))
    assert(pack.contains("Window"), pack)
    assert(pack.contains("partitionBy" ) || pack.contains("hashpartitioning(lang"), pack)
  }

  test("outer joins and range-frame window keep their scale shapes") {
    // left outer: the filtered (small) orders side broadcasts — the fact
    // side (customer at 100 TB) never shuffles for the join
    val lj = executedPlan(SparkEntry.queries("q_left_join_order_counts")(spark, sf))
    assert(lj.contains("BroadcastHashJoin") && lj.contains("LeftOuter"), lj)
    // full outer cannot broadcast: both sides must shuffle-sort-merge
    val fo = executedPlan(SparkEntry.queries("q_full_outer_balance_orders")(spark, sf))
    assert(fo.contains("SortMergeJoin") && fo.contains("FullOuter"), fo)
    // RANGE frame window partitions by user_id (shuffle key = window key),
    // never the single-partition global-window shape
    val rf = executedPlan(SparkEntry.queries("q_window_range_frame")(spark, sf))
    assert(rf.contains("Window"), rf)
    assert(rf.contains("hashpartitioning(user_id"), rf)
  }

  test("tf-idf, quality band and cross-grid keep their scale shapes") {
    // tf-idf: the top-k prune partitions by doc id (shuffle key = window
    // key); since round 9 the row_number filter plans as the TopKPerKey
    // bounded-heap operator (no Window node at all); the 1-row corpus count
    // arrives via broadcast
    val tfidf = executedPlan(SparkEntry.queries("txt_tfidf")(spark, sf))
    assert(tfidf.contains("TopKPerKey") || tfidf.contains("Window"), tfidf)
    assert(tfidf.contains("hashpartitioning(doc_id"), tfidf)
    // quality band: percentile window partitions by the stratum
    val band = executedPlan(SparkEntry.queries("cur_quality_bands")(spark, sf))
    assert(band.contains("Window") && band.contains("hashpartitioning(lang"), band)
    // cross-grid: the only cross product is dim × dim via broadcast — the
    // pre-aggregated fact side joins the grid, it never enters a cartesian
    val grid = executedPlan(SparkEntry.queries("q_cross_grid_zero_fill")(spark, sf))
    assert(grid.contains("BroadcastNestedLoopJoin"), grid)
    assert(!grid.contains("CartesianProduct"), grid)
    // ntile quartiles: the window partitions by nation (keyed, never global)
    val nt = executedPlan(SparkEntry.queries("q_ntile_spend_quartiles")(spark, sf))
    assert(nt.contains("Window") && nt.contains("hashpartitioning(c_nationkey"), nt)
    // native session windows: session aggregation shuffles on the user key
    val sw = executedPlan(SparkEntry.queries("q_session_window")(spark, sf))
    assert(sw.contains("hashpartitioning(user_id"), sw)
  }

  test("round-6 operators keep their scale shapes") {
    // PQ probe: codebook/LUT sides broadcast — no shuffle join, no cartesian
    val pq = executedPlan(SparkEntry.queries("ann_pq_topk")(spark, sf))
    assert(pq.contains("BroadcastHashJoin"), pq)
    assert(!pq.contains("CartesianProduct") && !pq.contains("BroadcastNestedLoopJoin"), pq)
    // mixture sampling: a narrow filter — no exchange anywhere in the plan
    val mix = executedPlan(SparkEntry.queries("cur_mixture_sample")(spark, sf))
    assert(!mix.contains("Exchange"), mix)
    // overlap chunking: per-row generate — no exchange
    val chunk = executedPlan(SparkEntry.queries("cur_chunk_overlap")(spark, sf))
    assert(!chunk.contains("Exchange"), chunk)
    assert(chunk.contains("Generate"), chunk)
    // funnel: every join keyed on user_id (no broadcast of the big side
    // needed for correctness, but no cartesian either)
    val fun = executedPlan(SparkEntry.queries("q_events_funnel")(spark, sf))
    assert(!fun.contains("CartesianProduct"), fun)
    // shard shuffle: the within-shard window partitions by shard (keyed,
    // never a global single-partition window)
    val shard = executedPlan(SparkEntry.queries("sample_shard_shuffle")(spark, sf))
    assert(shard.contains("hashpartitioning(shard"), shard)
    // moment statistics: partial aggregation before the exchange
    val mom = executedPlan(SparkEntry.queries("q_stats_moments")(spark, sf))
    assert(mom.contains("partial_"), mom)
  }

  test("round-7 operators keep their scale shapes") {
    // formatted (full static) plans: the AQE-finalized string collapses
    // completed stages to references, hiding upstream exchanges; broadcasts
    // here are explicit hints so the static plan already shows them
    // BM25: per-term df and corpus stats broadcast; the only wide shuffles
    // are the (doc, term) tf aggregate and the per-term rank window
    val bm = formatted(SparkEntry.queries("txt_bm25_topdocs")(spark, sf))
    assert(bm.contains("BroadcastExchange"), bm)
    // the 1-row corpus-stats cross join plans as a broadcast nested loop by
    // design (same shape as a scalar subquery); what must never appear is an
    // unbroadcast cartesian
    assert(!bm.contains("CartesianProduct"), bm)
    // grid proximity join: equi-join on cells, never a nested loop
    val geo = formatted(SparkEntry.queries("q_geo_grid_join")(spark, sf))
    assert(!geo.contains("NestedLoop") && !geo.contains("CartesianProduct"), geo)
    // profiling: exactly two scans (count/distinct pass + narrow min/max
    // pass, crossed as 1-row relations), the distinct pass hash-aggregated
    val prof = formatted(SparkEntry.queries("q_profile_orders")(spark, sf))
    // formatted mode mentions each scan twice (tree + detail); count the
    // numbered detail headers, one per physical scan
    assert("""\(\d+\) Scan parquet""".r.findAllIn(prof).length == 2, prof)
    assert(prof.contains("HashAggregate"), prof)
    assert(!prof.contains("CartesianProduct"), prof)
    // regression: one partial-aggregated pass, no window, no join
    val regr = formatted(SparkEntry.queries("q_regr_per_group")(spark, sf))
    assert(regr.contains("partial_"), regr)
    assert(!regr.contains("Join"), regr)
    // rolling median: window keyed by flag (never a global single-partition
    // window)
    val med = formatted(SparkEntry.queries("q_rolling_median_rev")(spark, sf))
    assert(med.contains("hashpartitioning(flag"), med)
    // z-score outliers: per-type stats broadcast back to the event stream
    val z = formatted(SparkEntry.queries("q_zscore_outliers")(spark, sf))
    assert(z.contains("BroadcastHashJoin"), z)
    // Hamming top-k: query side broadcast, rank window partitioned by query
    val ham = formatted(SparkEntry.queries("ann_hamming_topk")(spark, sf))
    assert(ham.contains("BroadcastExchange"), ham)
    assert(ham.contains("hashpartitioning(query_id"), ham)
    // inverted index: posting rank prunes BEFORE the collect (bounded
    // aggregate state) — a bounded group-limit operator (TopKPerKey since
    // round 9; WindowGroupLimit in the stock plan) must appear below the
    // final agg
    val idx = formatted(SparkEntry.queries("txt_inverted_index")(spark, sf))
    assert(idx.contains("TopKPerKey") || idx.contains("WindowGroupLimit"), idx)
  }

  test("AQE re-plans a sort-merge join to broadcast once runtime stats reveal a small side") {
    // static planning sees two "large" relations (stats unknown past the
    // filter), but at runtime the filtered side is tiny — AQE must convert
    // the exchange to a broadcast. This is the 1000-executor behavior that
    // saves the shuffle when a dim-like subset emerges mid-query.
    val li = graft.Tables.lineitem(spark, sf)
    val o = graft.Tables
      .orders(spark, sf)
      .filter(col("o_totalprice") > 400000.0) // runtime-small subset
      .select(col("o_orderkey"), col("o_orderpriority"))
    val joined = li
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
    val plan = executedPlan(joined) // collects → AQE finalizes
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastQueryStage"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("dynamic partition pruning fires when a dim filter restricts the partition key") {
    // 100 TB shape: the fact side is partitioned on the join key, the dim
    // filter is only known at runtime — DPP injects a subquery that prunes
    // fact partitions before the scan instead of reading the whole table
    val s = spark
    import s.implicits._
    val fact = graft.queries.SourceQueries.partitionedDocs(s, "/root/testdata/sf0.001")
    withTempDir { dir =>
      // the dim must be a real relation: a LocalRelation's filter constant-
      // folds away (ConvertToLocalRelation) before the PartitionPruning rule
      // looks for a selective predicate, and DPP never fires
      Seq(("en", "English"), ("de", "German"))
        .toDF("lang", "lang_name")
        .write
        .parquet(s"$dir/langdim")
      val dim = s.read.parquet(s"$dir/langdim")
      val joined = fact
        .join(dim.filter(col("lang_name") === "English"), Seq("lang"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"), plan)
      // and it still answers correctly
      val rows = joined.collect()
      assert(rows.length == 1 && rows.head.getString(0) == "en")
    }
  }

  test("hash-fragmented dataset prunes point lookups and IN-lists via the derived rule") {
    withTempDir { root => withoutAqe {
      try {
        val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
        val ds = graft.operators.Fragmentation
          .writeHashFragmented(li, "l_orderkey", 8, s"$root/li_hash")
        def scannedParts(q: org.apache.spark.sql.DataFrame): Option[Int] =
          finalPlan(q)
            .collect {
              case f: org.apache.spark.sql.execution.FileSourceScanExec =>
                f.selectedPartitions.partitionCount
            }
            .headOption
        // point lookup → exactly the key's bucket directory
        val point = ds.filter(col("l_orderkey") === 19L)
        assert(scannedParts(point).contains(1), scannedParts(point).toString)
        // IN-list → at most one directory per listed key
        val inq = ds.filter(col("l_orderkey").isin(19L, 23L, 57L))
        assert(scannedParts(inq).exists(_ <= 3), scannedParts(inq).toString)
        // pruning never changes results: recount with the rule unpublished
        val prunedCount = point.count()
        spark.conf.unset(graft.plans.DeriveFragmentPruning.MetaKey)
        val expected = spark.read
          .parquet(s"$root/li_hash")
          .filter(col("l_orderkey") === 19L)
          .count()
        assert(prunedCount == expected && expected > 0)
      } finally spark.conf.unset(graft.plans.DeriveFragmentPruning.MetaKey)
    } }
  }

  test("hive-style partitioned write prunes non-matching partition dirs at read") {
    withTempDir { dir =>
      val out = s"$dir/docs_by_lang"
      Tables.documents(spark, sf).write.partitionBy("lang").parquet(out)
      withoutAqe {
        val read = spark.read.parquet(out).filter(col("lang") === "en").select("doc_id")
        val scan = executedPlan(read)
        // partition filter reaches the FileIndex — only lang=en directories scan
        assert(scan.contains("PartitionFilters: [isnotnull(lang"), scan)
        val scanned = finalPlan(read)
          .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.partitionCount
          }
          .headOption
        assert(scanned.contains(1), s"expected 1 partition dir scanned, got $scanned")
      }
    }
  }

  test("co-bucketed join plans with no shuffle exchange") {
    withoutAqe {
      def cleanup(): Unit = Seq("b_orders", "b_lineitem").foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(s"${System.getProperty("java.io.tmpdir")}/graft-warehouse/$t")
        if (loc.exists()) org.apache.commons.io.FileUtils.deleteQuietly(loc)
      }
      cleanup()
      // force the sort-merge path: with broadcast allowed the planner skips
      // bucketing entirely on these tiny tables
      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val orders = Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
        val lineitem = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
        val (bo, bl) = graft.operators.Bucketing.coBucket(
          spark, orders, lineitem,
          "b_orders", "b_lineitem", "o_orderkey", "l_orderkey", 8
        )
        val joined = bo.join(bl, col("o_orderkey") === col("l_orderkey"))
        val plan = executedPlan(joined)
        assert(plan.contains("SortMergeJoin"), plan)
        assert(!plan.contains("Exchange"), plan)
        assert(joined.count() > 0)
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
        cleanup()
      }
    }
  }

  test("writeBucketed rejects qualified table names before touching the filesystem") {
    val df = Tables.orders(spark, sf).select("o_orderkey")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Bucketing.writeBucketed(df, "db.b_orders", "o_orderkey", 4)
    }
    assert(ex.getMessage.contains("single-part"))
  }

  test("session extensions register graft_dot via spark.sql.extensions") {
    // the shared session is built with spark.sql.extensions=graft.GraftExtensions
    assert(spark.conf.get("spark.sql.extensions") == "graft.GraftExtensions")
    for (fn <- Seq("graft_dot", "graft_bloom_agg", "graft_bloom_contains"))
      assert(
        spark.sessionState.functionRegistry
          .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(fn)),
        fn
      )
  }

  test("point query on fragments prunes to a single partition directory") {
    withTempDir { root => withoutAqe {
      val e = new FragmentEngine(spark, root)
      e.loadRatings("ratings", RatingsFixture.path)
      e.rangePartition("ratings", 5)
      e.roundRobinPartition("ratings", 5)
      val (rangeSide, _) = e.pointQueryDF(4.5)
      val plan = formatted(rangeSide)
      // 4.5 falls in fragment 4: the file index must keep exactly 1 of 5
      // partition dirs (partition filter on `part`, not a data filter)
      assert(plan.contains("part#") && plan.contains("PartitionFilters"), plan)
      val scanned = finalPlan(rangeSide)
        .collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.partitionCount
        }
        .headOption
      assert(scanned.contains(1), s"expected 1 partition scanned, got $scanned")
    } }
  }

  test("optimizer rule derives fragment pruning from plain rating filters") {
    withTempDir { root => withoutAqe {
      val e = new FragmentEngine(spark, root)
      e.loadRatings("ratings", RatingsFixture.path)
      e.rangePartition("ratings", 5)
      try {
        // NO engine query API, no manual part predicate — just a filter
        val adHoc = e.rangeFragments().filter(col("rating") >= 1.5 && col("rating") <= 3.5)
        val scanned = finalPlan(adHoc)
          .collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.selectedPartitions.partitionCount
          }
          .headOption
        assert(scanned.contains(3), s"expected 3 partitions via derived pruning, got $scanned")
        // equality filter prunes to one fragment
        val point = e.rangeFragments().filter(col("rating") === 4.5)
        val scanned1 = finalPlan(point)
          .collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.selectedPartitions.partitionCount
          }
          .headOption
        assert(scanned1.contains(1), s"expected 1 partition via derived pruning, got $scanned1")
        // and results are identical to the unpruned scan
        val expected = spark.read.parquet(s"$root/range_ratings")
          .filter(col("rating") >= 1.5 && col("rating") <= 3.5)
          .agg(count(lit(1))).head().getLong(0)
        assert(adHoc.count() == expected)
      } finally spark.conf.unset(graft.plans.DeriveFragmentPruning.MetaKey)
    } }
  }

  test("pruning rule is scoped to the fragmented dataset path, not column names") {
    withTempDir { root => withoutAqe {
      val e = new FragmentEngine(spark, root)
      e.loadRatings("ratings", RatingsFixture.path)
      e.rangePartition("ratings", 5)
      e.roundRobinPartition("ratings", 5)
      try {
        e.rangeFragments() // publishes range meta for 'rating'
        // the round-robin dataset ALSO carries (rating, part) columns, but
        // part = _rowid mod n there — injecting range-bucket pruning into it
        // would silently drop rows. The path scope must keep the rule out.
        val rrPath = s"$root/${FragmentEngine.RoundRobinDataset}"
        val rr = spark.read.parquet(rrPath).filter(col("rating") === 4.5)
        val got = rr.count()
        spark.conf.unset(graft.plans.DeriveFragmentPruning.MetaKey)
        val expected = spark.read.parquet(rrPath).filter(col("rating") === 4.5).count()
        assert(got == expected, s"rule misfired on round-robin dataset: $got != $expected")
        assert(expected > 0) // the check is vacuous if nothing matches
        // ... and an in-memory DataFrame with coincidental column names
        e.rangeFragments() // re-publish
        val s = spark
        import s.implicits._
        val coincidental = Seq((4.5, 0), (4.5, 3)).toDF("rating", "part")
          .filter(col("rating") === 4.5)
        assert(coincidental.count() == 2)
      } finally spark.conf.unset(graft.plans.DeriveFragmentPruning.MetaKey)
    } }
  }

  test("generic fragmented dataset prunes via the closed-form rule metadata") {
    withTempDir { root => withoutAqe {
      try {
        val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
        // l_quantity domain is [1, 50]; n=10 → width 4.9
        val ds = graft.operators.Fragmentation
          .writeRangeFragmentedAuto(li, "l_quantity", 10, s"$root/li_frag")
        val q = ds.filter(col("l_quantity") >= 12.5 && col("l_quantity") <= 28.5)
        val scanned = finalPlan(q)
          .collect {
            case f: org.apache.spark.sql.execution.FileSourceScanExec =>
              f.selectedPartitions.partitionCount
          }
          .headOption
        // buckets floor((12.5-1)/4.9)=2 .. floor((28.5-1)/4.9)=5 → 4 of 10
        assert(scanned.contains(4), s"expected 4 partitions, got $scanned")
        val prunedCount = q.count()
        // pruning never drops rows: recount with the rule disabled
        spark.conf.unset(graft.plans.DeriveFragmentPruning.MetaKey)
        val expected = spark.read.parquet(s"$root/li_frag")
          .filter(col("l_quantity") >= 12.5 && col("l_quantity") <= 28.5)
          .count()
        assert(prunedCount == expected)
      } finally spark.conf.unset(graft.plans.DeriveFragmentPruning.MetaKey)
    } }
  }

  test("range query scans only overlapping fragments") {
    withTempDir { root => withoutAqe {
      val e = new FragmentEngine(spark, root)
      e.loadRatings("ratings", RatingsFixture.path)
      e.rangePartition("ratings", 5)
      e.roundRobinPartition("ratings", 5)
      val (rangeSide, _) = e.rangeQueryDF(1.5, 3.5)
      val scanned = finalPlan(rangeSide)
        .collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec =>
            f.selectedPartitions.partitionCount
        }
        .headOption
      // [1.5, 3.5] overlaps fragments 1,2,3 of [0,1],(1,2],(2,3],(3,4],(4,5]
      assert(scanned.contains(3), s"expected 3 partitions scanned, got $scanned")
    } }
  }
}

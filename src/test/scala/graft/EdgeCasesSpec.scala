package graft

import org.apache.spark.sql.functions._

import graft.operators.{Fragmentation, SemiReduce, TimeSeries}

/** Edge-case hardening for the custom expression and generic operators. */
class EdgeCasesSpec extends SparkSpec {

  test("graft_dot: null inputs are null, mismatched lengths use the common prefix") {
    graft.functions.VectorExpressions.install(spark)
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(2.0f, 3.0f, 4.0f)),
      (2L, null.asInstanceOf[Array[Float]], Array(1.0f)),
      (3L, Array(1.0f, 1.0f, 1.0f), Array(5.0f)) // length mismatch → prefix
    ).toDF("id", "a", "b")
    val out = df
      .select(col("id"), expr("graft_dot(a, b)").as("d"))
      .collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    assert(out(1L).contains(2.0 + 6.0 + 12.0))
    assert(out(2L).isEmpty)
    assert(out(3L).contains(5.0))
    // interpreted eval path agrees with codegen
    val e = graft.functions.DotProductFloat(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.0f, 2.0f),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)
      ),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(3.0f, 4.0f),
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)
      )
    )
    assert(e.eval(null) == 11.0)
  }

  test("bench JSON contract: single parseable line with expected keys") {
    val json = Bench.renderJson(Map("q1" -> 1.5, "q2" -> 0.25), "/x/sf0.1")
    assert(!json.contains("\n"))
    // minimal structural check without a JSON lib: balanced + expected fields
    assert(json.startsWith("{") && json.endsWith("}"))
    for (k <- Seq("\"metric\":\"total\"", "\"value\":1.750", "\"unit\":\"sec\"",
                  "\"queries\":{", "\"q1\":1.50", "\"sf\":\"sf0.1\"",
                  "\"p50\":0.25", "\"p95\":1.50"))
      assert(json.contains(k), s"missing $k in $json")
    // spread (lap noise) appears only when lap samples existed
    val withSpread = Bench.renderJson(Map("q1" -> 1.5), "/x/sf0.1", Nil, Some(0.073))
    assert(withSpread.contains("\"spread_p95\":0.07"), withSpread)
    // percentile: nearest-rank on small samples
    assert(Bench.percentile(Seq(3.0, 1.0, 2.0), 0.5) == 2.0)
    assert(Bench.percentile(Seq(3.0, 1.0, 2.0), 0.95) == 3.0)
    assert(Bench.percentile(Seq(5.0), 0.5) == 5.0)
    // and the driver-side parser accepts it (same shape json.loads expects)
    assert(json.count(_ == '{') == json.count(_ == '}'))
    // tail budget: the driver keeps only the last 2000 chars of output, so
    // an oversized suite must degrade to slow-queries + rest_n/rest_sec
    // rollup instead of overflowing the line
    val many = (1 to 120).map(i => s"q_some_rather_long_query_name_$i" -> (if (i <= 30) 2.0 else 0.05)).toMap
    val bounded = Bench.renderJson(many, "/x/sf0.1")
    assert(bounded.length <= 1900, s"line too long: ${bounded.length}")
    assert(bounded.contains("\"rest_n\":90") && bounded.contains("\"rest_sec\":4.50"), bounded)
    assert(bounded.contains("q_some_rather_long_query_name_1\":2.00"), bounded)
    // failed queries: excluded from total/queries, reported by name, capped
    val withFail = Bench.renderJson(Map("q1" -> 1.5), "/x/sf0.1", Seq("q_bad"))
    assert(withFail.contains("\"failed_n\":1") && withFail.contains("\"failed\":[\"q_bad\"]"), withFail)
    assert(withFail.contains("\"value\":1.500"), withFail) // q_bad not billed
    val massFail = Bench.renderJson(Map.empty[String, Double], "/x/sf0.1",
      (1 to 40).map(i => s"q_f$i"))
    assert(massFail.contains("\"failed_n\":40") && massFail.contains("+35 more"), massFail)
    assert(massFail.length <= 1900, s"mass-failure line too long: ${massFail.length}")
    // host-throughput probe: carried when measured, sane bounds, absent otherwise
    val withEff = Bench.renderJson(Map("q1" -> 1.5), "/x/sf0.1", Nil, None, Some(17.44))
    assert(withEff.contains("\"eff_cores\":17.44"), withEff)
    assert(!json.contains("eff_cores"), json)
    val eff = Bench.effectiveCores(2)
    assert(eff > 0.5 && eff <= 2.0, s"effectiveCores(2) = $eff out of [0.5, 2]")
  }

  test("bench JSON pins the CPU-scaling sentinel into queries under any floor") {
    val many = (1 to 120).map(i => s"q_some_rather_long_query_name_$i" -> (if (i <= 30) 2.0 else 0.05)).toMap
    val withSentinel = many + (Bench.ScalingSentinel -> 0.04)
    val line = Bench.renderJson(withSentinel, "/x/sf0.1")
    assert(line.length <= 1900, s"line too long: ${line.length}")
    assert(line.contains("\"q_cpu_scaling_sentinel\":0.04"), line)
    // the rollup bills every other fast entry, not the pinned one
    assert(line.contains("\"rest_n\":90") && line.contains("\"rest_sec\":4.50"), line)
    assert(line.contains("\"value\":64.540"), line)
    // even when only the pinned entry fits, it is still printed
    val huge = (1 to 300).map(i => s"q_some_rather_long_query_name_$i" -> 9.0).toMap
    val fallback = Bench.renderJson(huge + (Bench.ScalingSentinel -> 0.04), "/x/sf0.1")
    assert(fallback.length <= 1900, s"line too long: ${fallback.length}")
    assert(fallback.contains("\"queries\":{\"q_cpu_scaling_sentinel\":0.04}"), fallback)
    // lines without the sentinel keep their exact bytes
    assert(Bench.renderJson(Map("q1" -> 1.5, "q2" -> 0.25), "/x/sf0.1") ==
      """{"metric":"total","value":1.750,"unit":"sec","queries":{"q1":1.50,"q2":0.25},""" +
      """"p50":0.25,"p95":1.50,"sf":"sf0.1"}""")
  }

  test("bench FULL JSON shares the wrapper schema and carries every query") {
    val many = (1 to 120).map(i => s"q_name_$i" -> (if (i <= 30) 2.0 else 0.05)).toMap
    val full = Bench.renderFullJson(many, "/x/sf0.1", Seq("q_bad"), Some(0.073))
    assert(!full.contains("\n") && full.startsWith("{") && full.endsWith("}"))
    for (k <- Seq("\"metric\":\"total\"", "\"unit\":\"sec\"", "\"queries\":{",
                  "\"p50\":", "\"p95\":", "\"spread_p95\":0.073",
                  "\"failed_n\":1", "\"failed\":[\"q_bad\"]", "\"sf\":\"sf0.1\""))
      assert(full.contains(k), s"missing $k")
    // no truncation rollup in the full artifact — every query by name
    assert(!full.contains("rest_n"))
    (1 to 120).foreach(i => assert(full.contains(s"\"q_name_$i\":")))
  }

  test("generic round-robin fragment: k-th row by order key goes to k mod n") {
    val s = spark
    import s.implicits._
    val df = Seq(30L, 10L, 20L, 50L, 40L).toDF("k")
    val out = Fragmentation
      .roundRobinFragment(df, Seq("k"), 3)
      .collect()
      .map(r => r.getLong(0) -> r.getInt(1))
      .toMap
    // sorted order 10,20,30,40,50 → parts 0,1,2,0,1
    assert(out == Map(10L -> 0, 20L -> 1, 30L -> 2, 40L -> 0, 50L -> 1))
  }

  test("resample: gaps are zero-count and forward-filled; leading gaps stay null") {
    val s = spark
    import s.implicits._
    def ts(day: Int) = java.sql.Timestamp.valueOf(f"2024-01-$day%02d 10:00:00")
    val df = Seq(
      (1L, ts(2), 10.0), // day 1 is a leading gap for user 1
      (1L, ts(4), 20.0)  // day 3 gap → forward-filled with 10.0
    ).toDF("user_id", "ts", "value")
    val out = TimeSeries
      .resampleFfill(df, "user_id", "ts", "value", "2024-01-01", "2024-01-04")
      .collect()
      .map(r => r.getString(1) -> (r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))
      .toMap
    assert(out("2024-01-01") == ((0L, None)))
    assert(out("2024-01-02") == ((1L, Some(10.0))))
    assert(out("2024-01-03") == ((0L, Some(10.0))))
    assert(out("2024-01-04") == ((1L, Some(20.0))))
  }

  test("rowid counter: persisted across inserts, batches, and engine restarts; no rescan") {
    val root = java.nio.file.Files.createTempDirectory("graft-rowid").toString
    val e1 = new operators.FragmentEngine(spark, root)
    e1.loadRatings("ratings", RatingsFixture.path) // 20 rows → next = 20
    e1.rangePartition("ratings", 5)
    e1.roundRobinPartition("ratings", 5)
    assert(e1.catalog.readNextRowId("ratings").contains(20L))
    e1.rangeInsert("ratings", 100, 1, 3.0) // _rowid 20
    e1.roundRobinInsert("ratings", 101, 2, 2.5) // _rowid 21
    assert(e1.catalog.readNextRowId("ratings").contains(22L))
    // a fresh engine over the same root continues the sequence (restart)
    val e2 = new operators.FragmentEngine(spark, root)
    val s = spark
    import s.implicits._
    e2.roundRobinInsertBatch("ratings", Seq((102, 3, 1.5), (103, 4, 4.5)).toDF("userid", "movieid", "rating"))
    assert(e2.catalog.readNextRowId("ratings").contains(24L))
    val ids = e2.master("ratings").select("_rowid").collect().map(_.getLong(0)).sorted
    assert(ids.sameElements(0L until 24L), s"rowids not dense: ${ids.mkString(",")}")
    // migration path: a pre-counter dataset (no rowid file) falls back to one
    // max-scan and then persists — and allocates the correct next id
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "ratings_rowid.json"))
    e2.rangeInsert("ratings", 104, 5, 2.0) // _rowid 24 via max+1 fallback
    assert(e2.catalog.readNextRowId("ratings").contains(25L))
    assert(e2.master("ratings").agg(max("_rowid")).head().getLong(0) == 24L)
    e2.deleteTables("ratings")
    assert(e2.catalog.readNextRowId("ratings").isEmpty) // dropTable clears it
  }

  test("roundRobinInsertBatch: explicit order key → deterministic fragments for a multi-partition batch") {
    val root = java.nio.file.Files.createTempDirectory("graft-rrbatch").toString
    val e = new operators.FragmentEngine(spark, root)
    e.loadRatings("ratings", RatingsFixture.path) // 20 rows → next _rowid 20
    e.roundRobinPartition("ratings", 3) // lastInserted = 19 % 3 = 1
    val s = spark
    import s.implicits._
    // a shuffled 4-partition batch: zipWithIndex order would follow partition
    // layout; the explicit order key pins within-batch order to userid
    val batch = (0 until 12)
      .map(i => (200 + i, i, 1.0 + (i % 4) * 0.5))
      .toDF("userid", "movieid", "rating")
      .repartition(4)
    assert(batch.rdd.getNumPartitions >= 2)
    e.roundRobinInsertBatch("ratings", batch, orderCols = Seq("userid"))
    // sorted by userid: row j → _rowid 20+j → fragment (lastInserted+1+j) % 3
    val rr = spark.read.parquet(
      e.catalog.tablePath(operators.FragmentEngine.RoundRobinDataset)
    )
    val got = rr
      .filter($"userid" >= 200)
      .select($"userid", $"part".cast("int"))
      .collect()
      .map(r => r.getInt(0) -> r.getInt(1))
      .toMap
    val expected = (0 until 12).map(j => (200 + j) -> ((2 + j) % 3)).toMap
    assert(got == expected, s"got $got")
    e.deleteTables("ALL")
  }

  test("roundRobinInsertBatch: file-backed multi-partition batch without orderCols is deterministic") {
    // the zipWithIndex leg of the contract: with orderCols empty, placement
    // follows (partition index, within-partition order) — stable for a
    // file-backed batch because a parquet scan enumerates splits and rows in
    // a fixed order. Two engines over fresh roots must agree fragment-for-
    // fragment. (A freshly SHUFFLED frame has no such guarantee — that case
    // must pass orderCols, per the scaladoc and the spec above.)
    val s = spark
    import s.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-rrsrc").toString
    (0 until 12)
      .map(i => (300 + i, i, 1.0 + (i % 4) * 0.5))
      .toDF("userid", "movieid", "rating")
      .repartition(3)
      .write.mode("overwrite").parquet(src)
    def run(): Map[Int, Int] = {
      val root = java.nio.file.Files.createTempDirectory("graft-rrdet").toString
      val e = new operators.FragmentEngine(spark, root)
      e.loadRatings("ratings", RatingsFixture.path)
      e.roundRobinPartition("ratings", 3)
      val batch = spark.read.parquet(src)
      assert(batch.rdd.getNumPartitions >= 2)
      e.roundRobinInsertBatch("ratings", batch)
      val rr = spark.read.parquet(
        e.catalog.tablePath(operators.FragmentEngine.RoundRobinDataset)
      )
      val got = rr
        .filter($"userid" >= 300)
        .select($"userid", $"part".cast("int"))
        .collect()
        .map(r => r.getInt(0) -> r.getInt(1))
        .toMap
      e.deleteTables("ALL")
      got
    }
    val first = run()
    val second = run()
    assert(first.size == 12)
    assert(first == second, s"placement not deterministic: $first vs $second")
    // fragments are balanced: 12 rows over 3 fragments, zipWithIndex is a
    // dense sequence regardless of which rows land where
    assert(first.values.groupBy(identity).view.mapValues(_.size).toMap.values.forall(_ == 4))
  }

  test("resample: non-daily step snaps to the grid; pre-start observation seeds the fill") {
    val s = spark
    import s.implicits._
    def ts(t: String) = java.sql.Timestamp.valueOf(t)
    val df = Seq(
      (1L, ts("2023-12-31 22:00:00"), 5.0), // before the grid: seeds ffill only
      (1L, ts("2024-01-01 07:30:00"), 10.0) // inside the 06:00 bucket
    ).toDF("user_id", "ts", "value")
    val out = TimeSeries
      .resampleFfill(df, "user_id", "ts", "value",
        "2024-01-01 00:00:00", "2024-01-01 12:00:00", "interval 6 hours")
      .collect()
      .map(r => r.getString(1) -> ((r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(out.size == 3) // 00:00, 06:00, 12:00 — pre-start bucket not emitted
    assert(out("2024-01-01 00:00:00") == ((0L, Some(5.0)))) // seeded, zero-count
    assert(out("2024-01-01 06:00:00") == ((1L, Some(10.0))))
    assert(out("2024-01-01 12:00:00") == ((0L, Some(10.0))))
    // calendar intervals have no fixed micro-length → rejected loudly
    intercept[IllegalArgumentException] {
      TimeSeries.resampleFfill(df, "user_id", "ts", "value",
        "2024-01-01", "2024-03-01", "interval 1 month")
    }
  }

  test("driver contract: entry names unique (ListMap would silently drop a duplicate)") {
    val names = SparkEntry.inventory.map(_.name)
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dups.isEmpty, s"duplicate entry names: $dups")
    assert(SparkEntry.queries.size == names.size)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("round-6 operator guards: pq dim divisibility, zorder bits bound, compaction target, mixture defaults") {
    val s = spark
    import s.implicits._
    val vecs = Seq((1L, Array(1f, 2f, 3f))).toDF("vec_id", "embedding")
    intercept[IllegalArgumentException] {
      graft.operators.Similarity.pqEncode(vecs, "vec_id", "embedding", m = 2)
    }
    intercept[IllegalArgumentException] {
      graft.operators.ZOrder.zValue2(lit(1), lit(1), bits = 32)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Compaction.compactParquet(s, "/tmp/nonexistent", targetBytes = 0)
    }
    // zero-vector corpus: PQ still assigns (dist 0 to the zero codebook row)
    val zeros = Seq((0L, Array(0f, 0f)), (1L, Array(0f, 0f))).toDF("vec_id", "embedding")
    val z = graft.operators.Similarity
      .pqEncode(zeros, "vec_id", "embedding", m = 1, codebookStride = 1)
      .collect()
    assert(z.forall(_.getAs[Long]("dist") == 0L))
    // mixture: empty weight map + default 0 keeps nothing; default 1 keeps all
    val docs = (1L to 50L).map(i => (i, "s")).toDF("id", "src")
    assert(graft.operators.Curation.mixtureSample(docs, "id", "src", Map.empty).count() == 0)
    assert(
      graft.operators.Curation
        .mixtureSample(docs, "id", "src", Map.empty, defaultWeight = 1.0)
        .count() == 50
    )
  }

  test("bloom prefilter: superset of exact semi join, selective, empty dim is empty") {
    val s = spark
    import s.implicits._
    val fact = (1L to 1000L).toDF("k")
    val dim = Seq(5L, 10L, 15L).toDF("dk")
    val pre = SemiReduce.bloomPrefilter(fact, "k", dim, "dk", 100L, 4096L)
    val preKeys = pre.as[Long].collect().toSet
    assert(Set(5L, 10L, 15L).subsetOf(preKeys)) // no false negatives, ever
    assert(preKeys.size <= 50, s"sketch admits too much: ${preKeys.size}") // selective
    val exact = pre.join(dim, col("k") === col("dk"), "left_semi").as[Long].collect().toSet
    assert(exact == Set(5L, 10L, 15L)) // prefilter + exact join == exact join
    assert(SemiReduce.bloomPrefilter(fact, "k", dim.filter(col("dk") < 0), "dk").count() == 0)
  }

  test("round-7 operator edges: empty/degenerate inputs return empty or safe results") {
    val s = spark
    import s.implicits._
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    // retrieval over an empty corpus: empty results, no divide-by-zero
    assert(graft.operators.Retrieval
      .bm25TopDocs(emptyDocs, "doc_id", "text", Seq("spark")).count() == 0)
    assert(graft.operators.Retrieval.invertedIndex(emptyDocs, "doc_id", "text").count() == 0)
    assert(graft.operators.Retrieval
      .chi2Keyness(emptyDocs, "text", "text", "en").count() == 0)
    // single-slice corpus: every contingency denominator is 0 → the nanvl
    // guard scores degenerate tables 0, never NaN (which would out-rank
    // every real score descending)
    val one = Seq((1L, "spark join", "en")).toDF("doc_id", "text", "lang")
    val key = graft.operators.Retrieval
      .chi2Keyness(one, "text", "lang", "en")
      .collect()
    assert(key.nonEmpty)
    assert(key.forall(r => r.getAs[Double]("chi2") == 0.0), key.mkString(","))
    // geo join with an empty side
    val pts = Seq((1L, 0.0, 0.0)).toDF("id", "lat", "lon")
    val emptyPts = Seq.empty[(Long, Double, Double)].toDF("rid", "lat", "lon")
    assert(graft.operators.GeoJoin
      .gridProximityJoin(pts, "id", emptyPts, "rid", "lat", "lon", 5.0).count() == 0)
    // weighted sampling with k larger than the table
    val tiny = Seq((1L, 2.0), (2L, 3.0)).toDF("id", "w")
    assert(graft.operators.Sampling.weightedTopK(tiny, "id", "w", 10).count() == 2)
    // nearest as-of with an empty right side drops every left row
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val l = Seq((1L, "u", ts(10))).toDF("id", "k", "lts")
    val r = Seq.empty[(String, java.sql.Timestamp, Long)].toDF("k", "rts", "rid")
    assert(graft.operators.AsOfJoin
      .asOfNearest(l, r, Seq("k"), "lts", "rts", Seq("rid")).count() == 0)
    // profiling a table with an all-null column
    val nulls = Seq((Some(1), Option.empty[String]), (Some(2), None)).toDF("i", "s")
    val prof = graft.operators.Profiling
      .profile(nulls, Seq("s"))
      .collect()
      .head
    assert(prof.getAs[Long]("n_nulls") == 2L && prof.getAs[Long]("n_distinct") == 0L)
    assert(prof.isNullAt(prof.fieldIndex("min_val")))
  }

  test("malformed source rows: PERMISSIVE captures, DROPMALFORMED drops, FAILFAST throws") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_corrupt").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "rows.csv"),
      "1,alpha,10\n2,beta,not_a_number\n3,gamma,30\n".getBytes
    )
    val schema = StructType(
      Seq(
        StructField("id", LongType),
        StructField("name", StringType),
        StructField("qty", LongType),
        StructField("_bad", StringType)
      )
    )
    val permissive = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_bad")
      .csv(dir)
    val rows = permissive.collect().sortBy(_.getAs[Long]("id"))
    assert(rows.length == 3)
    // the malformed row keeps its parseable prefix AND the raw line in _bad
    val bad = rows.filter(!_.isNullAt(3))
    assert(bad.length == 1 && bad.head.getAs[String]("_bad") == "2,beta,not_a_number")
    assert(bad.head.isNullAt(2)) // qty unparseable -> null, not a crash
    // a CSV type-cast failure is NOT structurally malformed in Spark 4
    // (the row survives DROPMALFORMED with a null field); use broken JSON
    // for the structural-malformation modes
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "rows.json"),
      "{\"id\":1,\"qty\":10}\n{broken json\n{\"id\":3,\"qty\":30}\n".getBytes
    )
    val jsonSchema = StructType(
      Seq(StructField("id", LongType), StructField("qty", LongType))
    )
    val dropped = spark.read
      .schema(jsonSchema)
      .option("mode", "DROPMALFORMED")
      .json(s"$dir/rows.json")
    assert(dropped.count() == 2)
    intercept[org.apache.spark.SparkException] {
      spark.read
        .schema(jsonSchema)
        .option("mode", "FAILFAST")
        .json(s"$dir/rows.json")
        .collect()
    }
  }
}

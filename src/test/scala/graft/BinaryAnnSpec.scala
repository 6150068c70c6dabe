package graft

import graft.operators.Similarity

/** Semantics of the 1-bit quantization rung: sign-bit codes, Hamming
  * retrieval, and the recall@k evaluation harness.
  */
class BinaryAnnSpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, -2.0f, 3.0f, -4.0f)),
    (2L, Array(1.0f, -1.0f, 1.0f, -1.0f)), // same signs as 1 → ham 0
    (3L, Array(-1.0f, 2.0f, -3.0f, 4.0f)), // inverted → ham 4
    (4L, Array(1.0f, 1.0f, 1.0f, 1.0f))    // ham 2 from 1
  ).toDF("vec_id", "embedding")

  test("binaryQuantize emits sign bitstrings and positive counts") {
    val out = Similarity
      .binaryQuantize(vecs, "vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2))))
      .toMap
    assert(out(1L) === (("1010", 2L)))
    assert(out(3L) === (("0101", 2L)))
    assert(out(4L) === (("1111", 4L)))
  }

  test("hammingTopK ranks by sign-bit distance with id tie-break") {
    val out = Similarity
      .hammingTopK(vecs, vecs.filter($"vec_id" === 1L), "vec_id", "embedding", 3)
      .collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Long]("ham"), r.getAs[Long]("rank")))
      .sortBy(_._3)
    assert(out === Seq((2L, 0L, 1L), (4L, 2L, 2L), (3L, 4L, 3L)))
  }

  test("NSW graph search: high recall at default beam, monotone in beam, deterministic") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val bf = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id")
      .localCheckpoint()
    val edges = Similarity
      .buildNswEdges(emb, "vec_id", "embedding", dim = 64)
      .select("src", "dst")
      .localCheckpoint()
    def recall(beam: Int): Double = Similarity
      .recallAtK(
        bf,
        Similarity.nswTopKFromEdges(emb, queries, "vec_id", "embedding", Seq(edges), 10,
          beam = beam),
        10
      )
      .agg(avg("recall"))
      .head()
      .getDouble(0)
    val r32 = recall(32)
    val r8 = recall(8)
    // measured 0.955 at the defaults on this corpus (round-12 probe)
    assert(r32 >= 0.9, s"default-beam recall $r32")
    assert(r32 > r8, s"beam widening must not lose recall: beam32=$r32 beam8=$r8")
    // fixed planes + md5 entry + total tie-breaks → bit-stable reruns
    val a = Similarity
      .nswTopKFromEdges(emb, queries, "vec_id", "embedding", Seq(edges), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Similarity
      .nswTopKFromEdges(emb, queries, "vec_id", "embedding", Seq(edges), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b)
  }

  test("hierarchical NSW: per-query coarse entries match or beat the flat fixed entry") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val bf = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id")
      .localCheckpoint()
    def meanRecall(df: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(bf, df, 10).agg(avg("recall")).head().getDouble(0)
    val flat = meanRecall(Similarity.nswTopK(
      emb, queries, "vec_id", "embedding", 10, dim = 64))
    val hier = meanRecall(Similarity.nswTopK(
      emb, queries, "vec_id", "embedding", 10, dim = 64, levels = 2))
    // better entries can only help a monotone best-so-far beam; allow tiny
    // slack for walks that reach the same region from a different side
    assert(hier >= flat - 0.02, s"hier=$hier flat=$flat")
    assert(hier >= 0.9, s"hierarchical recall $hier")
    // deterministic: md5 level membership + fixed planes + total tie-breaks
    val a = Similarity.nswTopK(
      emb, queries, "vec_id", "embedding", 10, dim = 64, levels = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = Similarity.nswTopK(
      emb, queries, "vec_id", "embedding", 10, dim = 64, levels = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b)
    // the degenerate corpus (no node in the coarse sample) falls back flat
    val tiny = emb.filter(
      substring(md5(col("vec_id").cast("string")), 1, 1) =!= "0").limit(40)
    val t = Similarity.nswTopK(
      tiny, tiny.limit(2), "vec_id", "embedding", 3, dim = 64, levels = 2)
    assert(t.count() > 0, "empty coarse level must fall back to the flat search")
    // the entry: the md5-min node, on the level-capped topmost non-empty
    // level, picked in ONE Spark job whatever the level count
    def md5Hex(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val hashed = emb.select("vec_id").collect().map(_.getLong(0)).map(id => (md5Hex(id), id))
    val zeroRun = (h: String) => h.takeWhile(_ == '0').length
    val sc = spark.sparkContext
    for (levels <- 1 to 3) {
      val group = s"nsw-entry-$levels-${java.util.UUID.randomUUID().toString.take(8)}"
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val entry = try Similarity.nswEntry(emb, "vec_id", levels - 1) finally sc.clearJobGroup()
      org.apache.spark.graft.ListenerBus.drain(sc)
      assert(sc.statusTracker.getJobIdsForGroup(group).length == 1, s"levels=$levels")
      val top = math.min(hashed.map(h => zeroRun(h._1)).max, levels - 1)
      assert(entry == ((hashed.min._2, top)), s"levels=$levels")
    }
  }

  test("L-level hierarchy: 3 levels keep recall, committed snapshots carry every level, small-n gate walks flat") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter(col("vec_id") < 20)
    val bf = Similarity
      .bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id")
      .localCheckpoint()
    def meanRecall(df: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(bf, df, 10).agg(avg("recall")).head().getDouble(0)
    // 500 vectors put ~3 nodes on level 2 (md5 "00" prefix) — degenerate
    // but structurally complete: entry at level 2, descend 2, 1, then full
    val flat = meanRecall(Similarity.nswTopK(
      emb, queries, "vec_id", "embedding", 10, dim = 64))
    val l3 = meanRecall(Similarity.nswTopK(
      emb, queries, "vec_id", "embedding", 10, dim = 64, levels = 3))
    assert(l3 >= flat - 0.02, s"levels=3 recall $l3 vs flat $flat")
    assert(l3 >= 0.9, s"levels=3 recall $l3")

    withTempDir { dir =>
      // 6000 vectors put ~23 nodes on level 2 — enough for a real level-2
      // graph (3 nodes at sf0.001 rarely share an LSH bucket, so that
      // level legitimately has no edges there)
      val emb2 = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
      val q2 = emb2.filter(col("vec_id") < 10)
      val bf2 = Similarity
        .bruteForceTopK(emb2, q2, "vec_id", "embedding", 10)
        .select("query_id", "neighbor_id")
        .localCheckpoint()
      val root = s"$dir/hnsw3"
      Similarity.buildNswIndexVersioned(
        emb2, "vec_id", "embedding", root, "b", dim = 64, levels = 3)
      val snap = graft.operators.IndexCommit.readCommitted(spark, root).get._2
      assert(snap.select("lvl").distinct().collect().map(_.getInt(0)).sorted.toSeq
        == Seq(0, 1, 2), "one snapshot must carry every level")
      // the committed read derives the level count from the lvl tags
      val hier = Similarity.nswTopKFromCommitted(
        emb2, q2, "vec_id", "embedding", root, 10, hierarchyMinNodes = 0L)
      val hierRecall = Similarity.recallAtK(bf2, hier, 10)
        .agg(avg("recall")).head().getDouble(0)
      assert(hierRecall >= 0.9, s"3-level committed recall $hierRecall")
      // size gate: below the threshold the walk is EXACTLY the flat walk
      // over the committed level-0 graph (6000 nodes < the 100k default)
      val gated = Similarity.nswTopKFromCommitted(
        emb2, q2, "vec_id", "embedding", root, 10)
      val e0 = snap.filter(col("lvl") === 0).select("src", "dst")
      val flatWalk = Similarity.nswTopKFromEdges(
        emb2, q2, "vec_id", "embedding", Seq(e0), 10)
      assert(gated.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        == flatWalk.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        "below the node threshold the committed read must walk the full level directly")
    }

    // the hierarchy hashes ids through their long form — a string-id corpus
    // is refused visibly instead of silently losing its coarse levels
    val s = spark
    import s.implicits._
    val strIds = emb.limit(30).select(
      col("vec_id").cast("string").as("vec_id"), col("embedding"))
    val err = intercept[IllegalArgumentException] {
      Similarity.nswTopK(strIds, strIds.limit(2), "vec_id", "embedding", 3, dim = 64,
        levels = 2)
    }
    assert(err.getMessage.contains("numeric id"), err.getMessage)
  }

  test("NSW edges are mirrored and capped per direction before mirroring") {
    import org.apache.spark.sql.functions._
    val vs = (0L until 30L)
      .map(i => (i, Array.tabulate(8)(j => math.sin(i * 0.7 + j).toFloat)))
      .toDF("vec_id", "embedding")
    val edges = Similarity
      .buildNswEdges(vs, "vec_id", "embedding", degree = 4, tables = 2, bits = 3, dim = 8)
    val pairs = edges.select("src", "dst").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (s, d) => pairs.contains((d, s)) }, "every edge must be mirrored")
    assert(pairs.forall { case (s, d) => s != d }, "no self loops")
  }

  test("NSW versioned index: append finds batch nodes, forget removes them, versions advance") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val evens = emb.filter(col("vec_id") % 2 === 0)
    val odds = emb.filter(col("vec_id") % 2 === 1)
    withTempDir { dir =>
      val root = s"$dir/nsw"
      val v1 = Similarity.buildNswIndexVersioned(evens, "vec_id", "embedding", root, "b", dim = 64)
      val v2 = Similarity.appendNswIndexVersioned(evens, odds, "vec_id", "embedding", root, "a", dim = 64)
      assert((v1, v2) == ((1L, 2L)))
      val queries = emb.filter(col("vec_id") < 10)
      val got = Similarity
        .nswTopKFromCommitted(emb, queries, "vec_id", "embedding", root, 10)
      // appended (odd) nodes are reachable results, not just graph rows
      assert(got.filter(col("neighbor_id") % 2 === 1).count() > 0)
      // recall against brute force stays high through the append path
      val bf = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 10)
      val rec = Similarity.recallAtK(bf, got, 10).agg(avg("recall")).head().getDouble(0)
      assert(rec >= 0.85, s"post-append recall $rec")
      // right-to-be-forgotten: a condemned id leaves both edge columns
      val s = spark; import s.implicits._
      val victim = got.filter(col("neighbor_id") % 2 === 1).head().getLong(1)
      val v3 = Similarity.forgetNswIndexVersioned(spark, Seq(victim).toDF("id"), root, "forget")
      assert(v3 == 3L)
      val edges = graft.operators.IndexCommit.readCommitted(spark, root).get._2
      assert(edges.filter(col("src") === victim || col("dst") === victim).count() == 0)
      val after = Similarity
        .nswTopKFromCommitted(emb, queries, "vec_id", "embedding", root, 10)
      assert(after.filter(col("neighbor_id") === victim).count() == 0)

      // the committed read is exactly the walk over the snapshot's own
      // level graphs: untagged = one level, lvl-tagged = every level
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("query_id", "neighbor_id", "cos", "rank").collect().map(_.toSeq).toSet
      assert(edges.columns.toSet == Set("src", "dst", "cos"), "one level stays untagged")
      assert(rows(after) == rows(Similarity.nswTopKFromEdges(
        emb, queries, "vec_id", "embedding", Seq(edges.select("src", "dst")), 10)))
      val hroot = s"$dir/hnsw"
      Similarity.buildNswIndexVersioned(emb, "vec_id", "embedding", hroot, "b", dim = 64,
        levels = 2)
      val snap = graft.operators.IndexCommit.readCommitted(spark, hroot).get._2
      def level(l: Int) = snap.filter(col("lvl") === l).select("src", "dst")
      assert(rows(Similarity.nswTopKFromCommitted(emb, queries, "vec_id", "embedding", hroot,
        10, hierarchyMinNodes = 0L)) == rows(Similarity.nswTopKFromEdges(
        emb, queries, "vec_id", "embedding", Seq(level(0), level(1)), 10)))
      // forget on a tagged snapshot clears the id from every level (a node
      // with coarse edges has level-0 edges too)
      val coarse = level(1).head().getLong(0)
      assert(Similarity.forgetNswIndexVersioned(spark, Seq(coarse).toDF("id"), hroot, "f") == 2L)
      val forgotten = graft.operators.IndexCommit.readCommitted(spark, hroot).get._2
      assert(forgotten.filter(col("src") === coarse || col("dst") === coarse).count() == 0)
      assert(forgotten.select("lvl").distinct().count() == 2, "both levels keep other edges")
    }
  }

  test("overlapArms: the first failing arm stops a sleeping arm's job and returns at once") {
    val sc = spark.sparkContext
    val group = s"arms-${java.util.UUID.randomUUID().toString.take(8)}"
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val err = try intercept[IllegalStateException] {
      graft.queries.PipelineQueries.overlapArms(spark,
        scala.concurrent.duration.Duration(60, "seconds"))(Seq(
        // the sleeper comes first: waiting on the arms in order would block
        () => sc.parallelize(Seq(1), 1).map { i => Thread.sleep(60000); i }.count(),
        () => {
          // fail only once the other arm's job is running
          val until = System.nanoTime() + 30e9.toLong
          while (sc.statusTracker.getActiveJobIds().isEmpty && System.nanoTime() < until)
            Thread.sleep(20)
          throw new IllegalStateException("arm failed")
        }
      ))
    } finally sc.clearJobGroup()
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(err.getMessage == "arm failed")
    assert(seconds < 30, s"returned after $seconds s")
    val jobs = sc.statusTracker.getJobIdsForGroup(group)
    assert(jobs.length == 1)
    val until = System.nanoTime() + 10e9.toLong
    def status = sc.statusTracker.getJobInfo(jobs.head).map(_.status)
    while (!status.contains(org.apache.spark.JobExecutionStatus.FAILED) &&
      System.nanoTime() < until) Thread.sleep(20)
    assert(status.contains(org.apache.spark.JobExecutionStatus.FAILED), s"sleeping job $status")
  }

  test("recallAtK counts overlap per query and keeps zero-hit queries") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 11L), (1L, 99L)).toDF("query_id", "neighbor_id")
    val out = Similarity
      .recallAtK(exact, approx, 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(out(1L) === ((1L, 0.5)))
    assert(out(2L) === ((0L, 0.0)))
  }

  test("mmrRerank trades redundancy for diversity; plain top-k would keep the near-duplicate") {
    // query 0 → c1 (rel≈1) and its near-clone c2 (rel≈0.999) vs a diverse
    // c3 (rel≈0.7). Relevance-only top-2 = {c1, c2}; MMR's second pick must
    // be c3: c2's redundancy penalty (sim to c1 ≈ 1) sinks it.
    val corpus = Seq(
      (1L, Array(1.0f, 0.01f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.02f, 0.0f, 0.0f)),
      (3L, Array(0.7f, 0.0f, 0.714f, 0.0f))
    ).toDF("vec_id", "embedding")
    val query = Seq((0L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val picks = Similarity
      .mmrRerank(corpus, query, "vec_id", "embedding", n = 3, k = 2, lambda = 0.5)
      .orderBy("sel_order")
      .collect()
      .map(r => (r.getAs[Long]("sel_order"), r.getAs[Long]("neighbor_id")))
      .toSeq
    assert(picks == Seq((0L, 1L), (1L, 3L)), s"got $picks")
    // relevance-only contrast: top-2 keeps the near-duplicate instead
    val plain = Similarity.bruteForceTopK(corpus, query, "vec_id", "embedding", 2)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(plain == Seq(1L, 2L), s"got $plain")
    // determinism: same inputs, same selection, exact mmr scores replay
    val again = Similarity
      .mmrRerank(corpus, query, "vec_id", "embedding", n = 3, k = 2, lambda = 0.5)
      .orderBy("sel_order").collect().map(_.toSeq).toSeq
    val first = Similarity
      .mmrRerank(corpus, query, "vec_id", "embedding", n = 3, k = 2, lambda = 0.5)
      .orderBy("sel_order").collect().map(_.toSeq).toSeq
    assert(again == first)
  }
}

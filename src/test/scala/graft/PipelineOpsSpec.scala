package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis
import graft.operators.{BloomSkip, Dedup, Similarity}

/** Behavior tests for the training-data pipeline operators on synthetic
  * fixtures where ground truth is known (the sf-data oracle entries only
  * prove engine-agreement; these prove the operators do the right thing).
  */
class PipelineOpsSpec extends SparkSpec {

  private def docs(rows: (Long, String)*) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
  }

  test("exact dedup groups identical content and keeps lowest id") {
    val df = docs(1L -> "alpha beta gamma", 2L -> "alpha beta gamma", 3L -> "unrelated text here")
    val out = Dedup.exactDedup(df, "doc_id", "text").collect()
    assert(out.length == 2)
    val dup = out.find(_.getAs[Long]("copies") == 2L).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("minhash LSH finds near-duplicates and skips unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val nearDup = base.replace("tonight", "today") // 1-word edit
    val other =
      "completely different content about spark query engines and distributed columnar storage systems"
    val df = docs(1L -> base, 2L -> nearDup, 3L -> other, 4L -> other.toUpperCase)
    val pairs = Dedup
      .minhashCandidatePairs(df, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs.contains((1L, 2L)), s"near-dup pair missing from $pairs")
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    // xxhash64 production path: same banding semantics, same near-dup found
    val fastPairs = Dedup
      .minhashCandidatePairs(df, "doc_id", "text", fast = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(fastPairs.contains((1L, 2L)), s"fast-path near-dup pair missing from $fastPairs")
    assert(!fastPairs.contains((1L, 3L)) && !fastPairs.contains((2L, 3L)))
    // long-typed signatures (not hex strings) on the fast path
    val fastSig = Dedup.minhashSignatures(df, "doc_id", "text", fast = true)
    assert(fastSig.schema("m0").dataType.typeName == "long")
  }

  test("minhashJaccardEstimate grades near-dups high and unrelated docs low") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val df = docs(
      1L -> base,
      2L -> base.replace("tonight", "today"), // 1-word edit → most perms agree
      3L -> "completely different content about spark query engines and columnar storage systems"
    )
    val s = spark
    import s.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("id1", "id2")
    val est = Dedup
      .minhashJaccardEstimate(df, "doc_id", "text", pairs)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("jaccard_est"))
      .toMap
    assert(est((1L, 2L)) >= 0.5, s"near-dup estimate too low: $est")
    assert(est((1L, 3L)) == 0.0, s"unrelated estimate nonzero: $est")
    // estimate is matches/numPerm: exact multiples of 1/8
    est.values.foreach(v => assert((v * 8) == math.round(v * 8).toDouble))
  }

  test("fuzzyPairs keeps verified near-dups and rejects distant candidates") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val df = docs(
      1L -> base,
      2L -> base.replace("tonight", "today"), // tiny edit → low norm_dist
      3L -> "completely different content about spark query engines and columnar storage"
    )
    val out = Dedup
      .fuzzyPairs(df, "doc_id", "text", maxNorm = 0.2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 1 && out.head._1 == 1L && out.head._2 == 2L, out.mkString(","))
    assert(out.head._3 <= 7L) // "tonight" -> "today" is a ≤7-char edit
    // a strict threshold drops even the near-dup
    assert(Dedup.fuzzyPairs(df, "doc_id", "text", maxNorm = 0.01).count() == 0L)
  }

  test("fuzzyPairs keeps a pair of empty texts (norm_dist 0, no div-by-zero NULL)") {
    // empty texts ARE LSH candidates (band hashes collapse to the empty-concat
    // digest); without the floored normalizer 0/0 → NULL would drop the pair
    val df = docs(1L -> "", 2L -> "", 3L -> "some actual content words here repeated words here")
    val out = Dedup
      .fuzzyPairs(df, "doc_id", "text", maxNorm = 0.4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 2L, 0L, 0.0)), out.mkString(","))
  }

  test("chunkDedup keeps first corpus-wide occurrence and reassembles in order") {
    // chunks of 2 tokens; "a b" and "c d" repeat across docs
    val df = docs(
      1L -> "a b c d e f",       // chunks: "a b", "c d", "e f" — all first
      2L -> "a b x y",           // "a b" dropped, "x y" kept
      3L -> "c d c d",           // both "c d" dropped (doc 1 owns it)
      4L -> "e f"                // dropped
    )
    val out = graft.operators.Dedup
      .chunkDedup(df, "doc_id", "text", chunkTokens = 2)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out(1L) == (("a b c d e f", 3L, 0L)))
    assert(out(2L) == (("x y", 1L, 1L)))
    assert(out(3L) == (("", 0L, 2L)))
    assert(out(4L) == (("", 0L, 1L)))
  }

  test("chunkDedup within-doc repeats collapse to the earliest position") {
    val df = docs(1L -> "p q p q r s")
    val out = graft.operators.Dedup
      .chunkDedup(df, "doc_id", "text", chunkTokens = 2)
      .collect()
    assert(out.length == 1)
    assert(out.head.getString(1) == "p q r s")
    assert(out.head.getLong(2) == 2L && out.head.getLong(3) == 1L)
  }

  test("quantizeInt8 is exact symmetric quantization with zero-vector guard") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, Array(1.0f, -0.5f, 0.25f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity
      .quantizeInt8(df, "vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    // vec 1: max|x| = 1.0 → q = floor(127*x + 0.5)
    assert(out((1L, 0L)) == 127L)
    assert(out((1L, 1L)) == -63L) // floor(-63.5 + 0.5) = -63
    assert(out((1L, 2L)) == 32L)  // floor(31.75 + 0.5) = 32
    assert(out((1L, 3L)) == 0L)
    // zero vector: no div-by-zero, all zeros
    assert((0L to 3L).forall(p => out((2L, p)) == 0L))
  }

  test("connectedComponents resolves chains, merges and singletons to component minima") {
    val s = spark
    import s.implicits._
    // component {1..4} is a chain (diameter 3 → needs >1 round), {5,6} a pair,
    // {8} a self-loop, {9,10} arrives reversed; 7 is isolated
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (5L, 6L), (8L, 8L), (10L, 9L)).toDF("a", "b")
    val nodes = (1L to 10L).toDF("id")
    val got = Dedup
      .connectedComponents(edges, nodes)
      .as[(Long, Long)]
      .collect()
      .toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L, 7L -> 7L,
      8L -> 8L, 9L -> 9L, 10L -> 9L)
    assert(got == want)
  }

  test("connectedComponents refuses to return unconverged labels at maxIter") {
    val s = spark
    import s.implicits._
    // a 6-node chain has diameter 5 → cannot reach fixpoint in 2 rounds
    val edges = (1L to 5L).map(i => (i, i + 1)).toDF("a", "b")
    val nodes = (1L to 6L).toDF("id")
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(edges, nodes, maxIter = 2).collect()
    }
    assert(ex.getMessage.contains("did not converge"))
  }

  test("connectedComponents: a missing changed-label metric fails, never reads as converged") {
    for (metrics <- Seq(Map.empty[String, Any], Map[String, Any]("n_changed" -> null))) {
      val ex = intercept[IllegalStateException](Dedup.changedLabels(metrics, 3))
      assert(ex.getMessage.contains("round 3") && ex.getMessage.contains("n_changed"), ex.getMessage)
    }
    assert(Dedup.changedLabels(Map("n_changed" -> 2L), 0) == 2L)
    // an edgeless graph observes 0, not null: every node is its own component
    val s = spark
    import s.implicits._
    val got = Dedup
      .connectedComponents(Seq.empty[(Long, Long)].toDF("a", "b"), Seq(4L, 2L).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(4L -> 4L, 2L -> 2L))
  }

  test("connectedComponents: a round metric that never arrives fails within the bound") {
    // no action ever fills this observation: Observation.get would block forever
    val never = org.apache.spark.sql.Observation("cc_never")
    val t0 = System.nanoTime()
    val ex = intercept[IllegalStateException] {
      Dedup.awaitRoundMetrics(never, 4, scala.concurrent.duration.Duration(200, "ms"))
    }
    val waitedMs = (System.nanoTime() - t0) / 1000000
    assert(ex.getMessage.contains("round 4"), ex.getMessage)
    assert(waitedMs >= 200 && waitedMs < 1000, s"waited $waitedMs ms")
  }

  test("connectedComponents matches driver-side union-find on random graphs") {
    val s = spark
    import s.implicits._
    for (seed <- Seq(7, 13, 99)) {
      val rnd = new scala.util.Random(seed)
      val n = 40L
      val edges = Seq.fill(30)((rnd.nextLong().abs % n, rnd.nextLong().abs % n))
      // reference union-find (test-only, driver-side by design)
      val parent = scala.collection.mutable.Map((0L until n).map(i => i -> i): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
      edges.foreach { case (a, b) => parent(find(a)) = find(b) }
      val minOf = (0L until n).groupBy(find).flatMap { case (_, ms) => ms.map(_ -> ms.min) }
      val got = Dedup
        .connectedComponents(edges.toDF("x", "y"), (0L until n).toDF("id"))
        .as[(Long, Long)]
        .collect()
        .toMap
      assert(got == minOf, s"seed $seed")
    }
  }

  test("dedupClusters assigns exact copies one cluster and strangers their own") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods tonight"
    val df = docs(
      1L -> base,
      2L -> base,
      3L -> base.replace("tonight", "today"),
      4L -> "completely different content about spark query engines and columnar storage"
    )
    val out = Dedup
      .dedupClusters(df, "doc_id", "text")
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("cluster_id"), r.getAs[Long]("cluster_size")))
      .toMap
    assert(out(1L) == (1L, 3L) && out(2L) == (1L, 3L) && out(3L) == (1L, 3L))
    assert(out(4L) == (4L, 1L))
  }

  test("minhash LSH recall on a 2000-doc corpus with 100 planted near-dups") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val vocab = Array("spark", "query", "shuffle", "filter", "join", "window",
      "column", "row", "hash", "sort", "scan", "merge", "agg", "stream",
      "batch", "vector", "table", "index", "cache", "plan")
    def doc() = Seq.fill(40)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val base = (0 until 1900).map(i => (i.toLong, doc()))
    // 100 planted near-dups: copy of a base doc with ONE word changed
    val dups = (0 until 100).map { i =>
      val src = base(i * 19)._2.split(" ")
      src(rnd.nextInt(src.length)) = "mutated"
      (10000L + i, src.mkString(" "))
    }
    val df = (base ++ dups).toDF("doc_id", "text")
    val pairs = Dedup
      .minhashCandidatePairs(df, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val planted = (0 until 100).map(i => ((i * 19).toLong, 10000L + i)).toSet
    val recall = planted.count(pairs.contains).toDouble / planted.size
    assert(recall >= 0.8, s"minhash recall too low: $recall (found ${pairs.size} pairs)")
  }

  test("simhash: near-identical docs agree on most bits, unrelated docs don't") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the woods"
    val near = base.replace("woods", "forest")
    val other = "spark catalyst optimizer pushes filters into columnar parquet scans efficiently"
    val df = docs(1L -> base, 2L -> near, 3L -> other)
    val sh = Dedup
      .simhash(df, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    def hamming(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    assert(sh(1L).length == 64)
    assert(hamming(sh(1L), sh(2L)) < hamming(sh(1L), sh(3L)))
    assert(hamming(sh(1L), sh(2L)) <= 16)
  }

  test("ngram jaccard: identical docs score 1.0, zero-overlap pairs absent") {
    val df = docs(
      1L -> "a b c d e f",
      2L -> "a b c d e f",
      3L -> "x y z w v u",
      4L -> "a b c q r s t"
    ).withColumn("block", lit("all"))
    val out = Dedup
      .ngramJaccardPairs(df, "doc_id", "text", Seq("block"))
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(out((1L, 2L)) == 1.0)
    assert(!out.contains((1L, 3L))) // no shared shingle → pair absent
    // docs 1 and 4 share exactly the shingle "a b c": 1/(4+5-1) = 0.125
    assert(out((1L, 4L)) == 0.125)
  }

  test("golden records: richest-wins canonical, mode attributes, deterministic ties") {
    val s = spark
    import s.implicits._
    val recs = Seq(
      (1L, "short", 5L, "web", "en"),
      (2L, "the longest member text", 23L, "crawl", "en"),
      (3L, "also short", 10L, "crawl", "de"),
      (4L, "tie a", 5L, "b", "fr"),
      (5L, "tie b", 5L, "a", "fr")
    ).toDF("id", "text", "len", "src", "lang")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L))
      .toDF("id", "cluster_id")
    val out = Dedup
      .goldenRecords(recs, "id", "text", "len", Seq("src", "lang"), clusters)
      .collect()
      .map(r => r.getAs[Long]("cluster_id") -> r)
      .toMap
    val c1 = out(1L)
    assert(c1.getAs[Long]("n_members") == 3L)
    assert(c1.getAs[Long]("canon_id") == 2L, "longest member wins")
    assert(c1.getAs[Long]("canon_len") == 23L)
    assert(c1.getAs[String]("top_src") == "crawl", "mode source (2 of 3)")
    assert(c1.getAs[String]("top_lang") == "en")
    val c4 = out(4L)
    assert(c4.getAs[Long]("canon_id") == 4L, "length tie breaks to min id")
    assert(c4.getAs[String]("top_src") == "a", "mode tie breaks lexicographically")
    assert(c4.getAs[String]("top_lang") == "fr")
  }

  test("bloom zone skipping: zero false negatives, real pruning, driver-replayable masks") {
    val s = spark
    import s.implicits._
    // 8 zones, 100 disjoint keys each — min/max could prune here, but the
    // operator must prune via the Bloom bits alone
    val df = s.range(800).select(
      expr("id div 100").as("zone"), col("id").as("k"))
    val blooms = BloomSkip.buildZoneBlooms(df, "zone", "k").localCheckpoint()
    for (probe <- Seq(5L, 250L, 799L)) {
      val surv = BloomSkip
        .zonesMaybeContaining(blooms, lit(probe))
        .collect()
        .map(_.getAs[Long]("zone"))
        .toSet
      assert(surv.contains(probe / 100),
        s"zone holding key $probe must survive (no false negatives), got $surv")
      assert(surv.size < 8, s"probe $probe must prune some of the 8 zones, got $surv")
    }
    // an absent key may only survive via bounded false positives
    val ghost = BloomSkip.zonesMaybeContaining(blooms, lit(999999L)).count()
    assert(ghost < 8, "an absent key must not light up every zone")
    // driver replay of zone 0's masks bit-for-bit
    def md5Hex(x: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def posOf(i: Int, key: Long): Long =
      java.lang.Long.parseLong(md5Hex(s"$i:$key").take(8), 16) % 1024
    val expected = (0L until 100L)
      .flatMap(k => Seq(posOf(0, k), posOf(1, k)))
      .groupBy(_ / 32)
      .view.mapValues(_.map(p => 1L << (p % 32).toInt).reduce(_ | _)).toMap
    val got = blooms.filter(col("zone") === 0L).collect()
      .map(r => r.getAs[Long]("word") -> r.getAs[Long]("mask")).toMap
    assert(got == expected, "zone-0 masks must replay bit-for-bit")
  }

  test("prefix jaccard join: lossless vs brute force, exact ppm boundary, no blocking needed") {
    // A/B share a 5-word run → 3 common shingles, 4 each, J = 3/5 = 0.6 exactly
    val df = docs(
      1L -> "c1 c2 c3 c4 c5 a1",
      2L -> "c1 c2 c3 c4 c5 b1",
      3L -> "c1 c2 c3 x1 x2 x3 x4 x5 x6 x7", // shares only 1 shingle with 1/2
      4L -> "y1 y2 y3 y4 y5 z1",
      5L -> "y1 y2 y3 y4 y5 z1", // exact dup of 4 → J = 1
      6L -> "w1 w2" // too short for any shingle → excluded
    )
    val out = Dedup
      .prefixJaccardPairs(df, "doc_id", "text", tauPpm = 600000L)
      .collect()
      .map(r => ((r.getAs[Long]("id1"), r.getAs[Long]("id2")), r.getAs[Long]("jaccard_ppm")))
      .toMap
    // boundary pair included at exactly tau, exact integer ppm
    assert(out((1L, 2L)) == 600000L)
    assert(out((4L, 5L)) == 1000000L)
    assert(out.size == 2, s"unexpected pairs: $out")
    // raising tau past the boundary drops the 0.6 pair but keeps the dup
    val strict = Dedup
      .prefixJaccardPairs(df, "doc_id", "text", tauPpm = 610000L)
      .collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
      .toSet
    assert(strict == Set((4L, 5L)))
    // losslessness: equivalence to the brute-force all-pairs definition
    val sh = df
      .select(col("doc_id"), array_distinct(
        Dedup.shinglesFromWords(TextAnalysis.tokens(col("text")))).as("sh"))
      .filter(size(col("sh")) > 0)
    val brute = sh.as("a")
      .crossJoin(sh.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("id1"),
        col("b.doc_id").as("id2"),
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("long").as("c"),
        (size(col("a.sh")) + size(col("b.sh"))).cast("long").as("t")
      )
      .filter(col("c") * 1000000L >= lit(600000L) * (col("t") - col("c")))
      .collect()
      .map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2")))
      .toSet
    assert(out.keySet == brute)
  }

  test("winnowing: docs sharing a long substring share a fingerprint; bpe tokenizer splits punctuation") {
    val s = spark
    import s.implicits._
    val shared = "the entire shared passage stays identical here"
    val df = Seq(
      (1L, s"AAAA prefix one $shared suffix alpha"),
      (2L, s"ZZZZ completely different lead-in $shared and tail"),
      (3L, "nothing in common with the others at all, honestly")
    ).toDF("doc_id", "text")
    val fps = df
      .select($"doc_id", TextAnalysis.kgramHashes($"text").as("_h"))
      .select($"doc_id", TextAnalysis.winnowFingerprints($"_h").as("fp"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSet)
      .toMap
    // guarantee: shared substring of length >= k+w-1 (11) ⇒ shared fingerprint
    assert(fps(1L).intersect(fps(2L)).nonEmpty)
    // distinct docs still distinguishable
    assert(fps(1L) != fps(3L))
    // codegen'd explode+window stats path agrees with the Column-API route
    val stats = TextAnalysis
      .winnowFingerprintStats(df, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2), r.getString(3)))
      .toMap
    for (id <- Seq(1L, 2L, 3L)) {
      assert(stats(id)._1 == fps(id).size.toLong, s"n_fp mismatch for $id")
      assert(stats(id)._2 == fps(id).min && stats(id)._3 == fps(id).max)
    }

    val bpe = df
      .select(size(TextAnalysis.bpeTokens(lit("don't split, just count: 42 tokens!"))).as("n"))
      .head()
      .getInt(0)
    // don|'t|split|,|just|count|:|42|tokens|! → 10
    assert(bpe == 10)
  }

  test("simhash pairs: identical docs at hamming 0, near-dup found, stranger absent") {
    val base = "the quick brown fox jumps over the lazy dog and keeps running far away " +
      "into the deep woods tonight while the moon rises slowly over the hills"
    val df = docs(
      1L -> base,
      2L -> base, // identical → hamming 0
      3L -> base.replace("tonight", "today"), // one-token edit → few bits flip
      4L -> "completely unrelated text about databases indexes and query planners only"
    )
    val out = Dedup
      .simhashPairs(df, "doc_id", "text", maxHamming = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(out((1L, 2L)) == 0L)
    assert(out.contains(1L -> 3L) && out((1L, 3L)) > 0L, s"near-dup not found: $out")
    assert(!out.keys.exists { case (a, b) => a == 4L || b == 4L }, s"stranger paired: $out")
  }

  test("fast winnowing (shuffle-free per-row formulation) equals the window formulation") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "AAAA prefix one the entire shared passage stays identical here suffix alpha"),
      (2L, "short"), // < k chars: no grams at all
      (3L, "exactly10c"), // grams exist but fewer than w: no full window
      (4L, "nothing in common with the others at all, honestly")
    ).toDF("doc_id", "text")
    def stats(d: org.apache.spark.sql.DataFrame) = d
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), Option(r.get(2)), Option(r.get(3))))
      .toMap
    val fast = stats(TextAnalysis.winnowFingerprintStats(df, "doc_id", "text", fast = true))
    // window-formulation twin over the same xxhash64 gram hash
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("_i").rowsBetween(-3, 0)
    val exp = stats(
      df.select($"doc_id", $"text".as("_t"))
        .withColumn("_i", explode(sequence(lit(1), greatest(length($"_t") - 7, lit(0)))))
        .select($"doc_id", $"_i", xxhash64($"_t".substr($"_i", lit(8))).as("_h"))
        .withColumn("_fp", min($"_h").over(win))
        .filter($"_i" >= 4)
        .groupBy($"doc_id")
        .agg(countDistinct($"_fp").as("n_fp"), min($"_fp").as("mn"), max($"_fp").as("mx"))
    )
    for (id <- Seq(1L, 4L)) assert(fast(id) == exp(id), s"doc $id")
    // short docs keep a row with n_fp = 0 and null min/max (and no phantom
    // fingerprint from xxhash64's ignore-null-input behavior)
    for (id <- Seq(2L, 3L)) assert(fast(id) == ((0L, None, None)), s"doc $id")
  }

  test("persisted pq index returns exactly the direct pqTopK results") {
    val s = spark
    import s.implicits._
    val vecs = (0L until 40L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 13 + j * 7) % 19 - 9).toFloat / 3f)))
      .toDF("vec_id", "embedding")
    val queries = vecs.filter($"vec_id" < 3)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("query_id", "neighbor_id", "adist", "rank")
      .collect().map(_.toSeq).toSet
    withTempDir { dir =>
      Similarity.buildPqIndex(vecs, "vec_id", "embedding", s"$dir/idx", m = 2, codebookStride = 10)
      val fromIndex = rows(
        Similarity.pqTopKFromIndex(queries, "vec_id", "embedding", 5, s"$dir/idx", m = 2)
      )
      val direct = rows(
        Similarity.pqTopK(vecs, queries, "vec_id", "embedding", 5, m = 2, codebookStride = 10)
      )
      assert(fromIndex == direct && fromIndex.nonEmpty)
    }
  }

  test("mixture sampling: weight 1 keeps all, weight 0 drops all, samples nest under weight increase") {
    val s = spark
    import s.implicits._
    val df = (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "src")
    def ids(w: Map[String, Double]) =
      graft.operators.Curation
        .mixtureSample(df, "id", "src", w)
        .select("id").collect().map(_.getLong(0)).toSet
    assert(ids(Map("a" -> 1.0)) == (2L to 200L by 2).toSet) // all of a, none of b (default 0)
    val low = ids(Map("a" -> 0.3, "b" -> 0.2))
    val high = ids(Map("a" -> 0.7, "b" -> 0.6))
    assert(low.subsetOf(high), "hash-position sampling must be nested under weight increases")
    assert(low.nonEmpty && high.size < 200)
  }

  test("pq codes: codebook rows encode to themselves with zero distance; codes come from the codebook") {
    val s = spark
    import s.implicits._
    val vecs = (0L until 40L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 13 + j * 7) % 19 - 9).toFloat / 3f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.pqEncode(vecs, "vec_id", "embedding", m = 2, codebookStride = 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    assert(out.size == 40 * 2) // one code per (vector, subspace)
    val codebookIds = Set(0L, 10L, 20L, 30L)
    assert(out.values.map(_._1).toSet.subsetOf(codebookIds))
    for (id <- codebookIds; sub <- Seq(0L, 1L))
      assert(out((id, sub)) == ((id, 0L)), s"codebook row $id sub $sub must self-encode at dist 0")
    assert(out.values.forall(_._2 >= 0L))
  }

  test("language id picks the language with most marker hits") {
    val df = docs(
      1L -> "the cat sat on the mat and the dog",
      2L -> "der hund ist gross und die katze ist klein",
      3L -> "qqq www eee rrr"
    )
    val out = df
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(out(1L) == "en")
    assert(out(2L) == "de")
    assert(out(3L) == "und")
  }

  test("brute-force cosine topk is exact and lsh topk has reasonable recall") {
    val s = spark
    import s.implicits._
    // deterministic synthetic vectors: 40 points in 8 dims
    val vecs = (0 until 40).map { i =>
      val v = Array.tabulate(8)(j =>
        math.sin(i * 0.7 + j * 1.3).toFloat + (if (j == i % 8) 2.0f else 0.0f)
      )
      (i.toLong, v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    val exact = Similarity
      .bruteForceTopK(df, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(exact.size == 15)
    // seed pinned: on a 40-point corpus a single 2-bit table's recall swings
    // with the plane draw (that variance is WHY nearDupPairs supports
    // multi-table OR-ing); seed 3 is a representative good draw
    val approx = Similarity
      .lshTopK(df, queries, "vec_id", "embedding", 5, bits = 2, seed = 3)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"LSH recall too low: $recall")
    // approx results are a subset of legal neighbors (never the query itself)
    assert(approx.forall { case (q, n) => q != n })
    // PQ symmetric-DC search over the same corpus: with a dense stride
    // codebook (every 5th vector) the quantized-distance ranking should
    // recover most of the exact cosine top-5 (L2-vs-cosine + int8 noise
    // keeps it short of perfect)
    val pq = Similarity
      .pqTopK(df, queries, "vec_id", "embedding", 5, m = 2, codebookStride = 5)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pq.forall { case (q, n) => q != n })
    assert(pq.size == 15)
    val pqRecall = exact.intersect(pq).size.toDouble / exact.size
    assert(pqRecall >= 0.4, s"PQ recall too low: $pqRecall")
    // int8 scalar quantization is the gentlest sketch (full dimensionality,
    // only 8-bit rounding noise): recall must beat the coarser sketches
    val sq = Similarity
      .int8TopK(df, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(sq.forall { case (q, n) => q != n })
    assert(sq.size == 15)
    val sqRecall = exact.intersect(sq).size.toDouble / exact.size
    assert(sqRecall >= 0.8, s"int8 recall too low: $sqRecall")
    // exact re-rank of a deep PQ shortlist must recover at least plain-PQ
    // recall (and approaches exact as the shortlist grows)
    val rr = Similarity
      .pqRerankTopK(df, queries, "vec_id", "embedding", 5,
        shortlist = 20, m = 2, codebookStride = 5)
      .select("query_id", "neighbor_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    val rrRecall = exact.intersect(rr).size.toDouble / exact.size
    assert(rrRecall >= pqRecall, s"re-rank degraded recall: $rrRecall < $pqRecall")
  }

  test("multi-probe lsh: nProbe=1 ≡ single-bucket lshTopK, recall monotone in probes") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 40).map { i =>
      val v = Array.tabulate(8)(j =>
        math.sin(i * 0.7 + j * 1.3).toFloat + (if (j == i % 8) 2.0f else 0.0f)
      )
      (i.toLong, v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    def resultSet(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = resultSet(Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", 5))
    val single = resultSet(
      Similarity.lshTopK(df, queries, "vec_id", "embedding", 5, bits = 3, seed = 3))
    // probing only the base bucket IS plain LSH — exact equality, not recall
    val p1 = resultSet(Similarity.lshMultiProbeTopK(
      df, queries, "vec_id", "embedding", 5, bits = 3, nProbe = 1, seed = 3))
    assert(p1 === single, s"nProbe=1 diverged: $p1 vs $single")
    // candidate sets grow monotonically with nProbe, and any global-top-5
    // member among the candidates ranks within the candidate top-5, so
    // recall vs brute force can only rise
    val recalls = Seq(1, 2, 4).map { np =>
      val r = resultSet(Similarity.lshMultiProbeTopK(
        df, queries, "vec_id", "embedding", 5, bits = 3, nProbe = np, seed = 3))
      assert(r.forall { case (q, n) => q != n })
      exact.intersect(r).size.toDouble / exact.size
    }
    assert(recalls == recalls.sorted, s"recall not monotone in nProbe: $recalls")
    assert(recalls.last > recalls.head,
      s"probing extra buckets never helped on this fixture: $recalls")
    // the persisted-index path returns exactly the in-memory results —
    // probes meet the bucket-partitioned layout as pruned directory reads
    withTempDir { dir =>
      Similarity.buildLshIndex(df, "vec_id", "embedding", s"$dir/lsh", bits = 3, seed = 3)
      val fromIdx = resultSet(Similarity.lshMultiProbeTopKFromIndex(
        queries, "vec_id", "embedding", 5, s"$dir/lsh", bits = 3, nProbe = 3, seed = 3))
      val direct = resultSet(Similarity.lshMultiProbeTopK(
        df, queries, "vec_id", "embedding", 5, bits = 3, nProbe = 3, seed = 3))
      assert(fromIdx === direct, s"fromIdx=$fromIdx direct=$direct")
    }
  }

  test("z-order: interleaving matches reference morton code; clustering gives compact partition boxes") {
    val s = spark
    import s.implicits._
    def morton(x: Int, y: Int, bits: Int): Long =
      (0 until bits).foldLeft(0L)((a, i) =>
        a | (((x >> i) & 1).toLong << (2 * i)) | (((y >> i) & 1).toLong << (2 * i + 1))
      )
    val df = (for { x <- 0 to 7; y <- 0 to 7 } yield (x, y)).toDF("x", "y")
    graft.operators.ZOrder
    df.select($"x", $"y", graft.operators.ZOrder.zValue2($"x", $"y", 3).as("z"))
      .collect()
      .foreach(r => assert(r.getLong(2) == morton(r.getInt(0), r.getInt(1), 3)))
    // masking: values beyond `bits` wrap onto the low bits only
    assert(
      df.sparkSession.range(1)
        .select(graft.operators.ZOrder.zValue2(lit(0x1234 & 7), lit(0), 3))
        .head.getLong(0) == morton(0x1234 & 7, 0, 3)
    )
    // clustering a 16x16 grid into 8 z-range partitions: every partition's
    // (x, y) bounding box stays a small rectangle — two-dimensional
    // skippability, which a plain sort by x cannot give y
    val grid = (for { x <- 0 until 16; y <- 0 until 16 } yield (x, y)).toDF("x", "y")
    val parts = graft.operators.ZOrder
      .cluster2(grid, "x", "y", 8, bits = 4)
      .rdd.glom().collect().filter(_.nonEmpty)
    val areas = parts.map { rows =>
      val xs = rows.map(_.getInt(0)); val ys = rows.map(_.getInt(1))
      (xs.max - xs.min + 1).toLong * (ys.max - ys.min + 1)
    }
    assert(areas.forall(_ <= 128), s"z-partition bbox too large: ${areas.mkString(",")}")
    assert(areas.sum.toDouble / areas.length <= 80.0, s"avg bbox ${areas.sum / areas.length}")
  }

  test("deterministic moment statistics agree with Spark's builtin var/stddev/corr") {
    val s = spark
    val out = graft.queries.AnalyticsQueries.entries
      .find(_.name == "q_stats_moments").get
      .run(s, "/root/testdata/sf0.001")
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    val builtin = graft.Tables.lineitem(s, "/root/testdata/sf0.001")
      .groupBy("l_returnflag")
      .agg(
        var_samp(col("l_extendedprice")).as("v"),
        stddev_samp(col("l_extendedprice")).as("sd"),
        corr(col("l_extendedprice"), col("l_quantity")).as("c")
      )
      .collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    for ((k, (v, sd, c)) <- builtin) {
      val (v2, sd2, c2) = out(k)
      assert(math.abs(v - v2) / v < 1e-9, s"var mismatch for $k: $v vs $v2")
      assert(math.abs(sd - sd2) / sd < 1e-9)
      assert(math.abs(c - c2) < 1e-9)
    }
  }

  test("schema evolution: mergeSchema reads old and new parquet generations as one table") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      // generation 0 lacks the `score` column added later — the standard
      // additive-evolution case a long-lived dataset accumulates
      Seq((1L, "a")).toDF("id", "v").write.parquet(s"$dir/t/gen=0")
      Seq((2L, "b", 3.5)).toDF("id", "v", "score").write.parquet(s"$dir/t/gen=1")
      val merged = s.read.option("mergeSchema", "true").parquet(s"$dir/t")
      assert(merged.columns.toSet == Set("id", "v", "score", "gen"))
      val rows = merged
        .select("id", "v", "score")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), Option(r.get(2))))
        .toSet
      assert(rows == Set((1L, "a", None), (2L, "b", Some(3.5))))
    }
  }

  test("compaction rewrites many small parquet files into few, preserving content") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      val path = s"$dir/table"
      val df = (1L to 2000L).map(i => (i, s"row$i")).toDF("id", "v")
      df.repartition(64).write.parquet(path)
      val (before, after) =
        graft.operators.Compaction.compactParquet(s, path, targetBytes = 256 * 1024)
      assert(before == 64)
      assert(after < 16, s"expected few output files, got $after")
      val back = s.read.parquet(path).collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(back == (1L to 2000L).map(i => (i, s"row$i")).toSet)
    }
  }

  test("zValue2 interleave is a bijection on 16-bit pairs (random sample)") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(200)((rnd.nextInt(65536), rnd.nextInt(65536)))
    pairs.toDF("x", "y")
      .select(graft.operators.ZOrder.zValue2($"x", $"y", 16).as("z"), $"x", $"y")
      .collect()
      .foreach { r =>
        val z = r.getLong(0)
        var x = 0L; var y = 0L
        for (i <- 0 until 16) {
          x |= ((z >> (2 * i)) & 1) << i
          y |= ((z >> (2 * i + 1)) & 1) << i
        }
        assert(x == r.getInt(1) && y == r.getInt(2), s"deinterleave mismatch at z=$z")
      }
  }

  test("chunkWithOverlap covers every token, overlaps by chunk-stride, no empty chunks") {
    val words = (1 to 150).map(i => s"w$i")
    val df = docs(1L -> words.mkString(" "), 2L -> "tiny doc")
    val out = graft.operators.Curation
      .chunkWithOverlap(df, "doc_id", "text", chunkTokens = 64, stride = 48)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // starts 0, 48, 96 — last start < 150, and 96 + 64 >= 150 covers the tail
    assert(d1.map(_._3).toSeq == Seq(0L, 48L, 96L))
    assert(d1.last._4 == 54L) // 150 - 96
    assert(d1.forall(c => c._5.split(" ").length == c._4))
    // consecutive chunks share exactly chunkTokens - stride = 16 tokens
    assert(d1(0)._5.split(" ").drop(48).toSeq == d1(1)._5.split(" ").take(16).toSeq)
    val d2 = out.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._4 == 2L && d2.head._5 == "tiny doc")
  }

  test("salted join returns exactly the plain join's rows under skew") {
    val s = spark
    import s.implicits._
    // heavily skewed probe: 90% of rows share key 1
    val probe = ((1 to 900).map(i => (1L, s"p$i")) ++ (1 to 100).map(i => (i.toLong + 1, s"q$i")))
      .toDF("pk", "pv")
    val build = (1L to 101L).map(k => (k, s"b$k")).toDF("bk", "bv")
    val plain = probe
      .join(build, $"pk" === $"bk")
      .select("pk", "pv", "bv")
      .collect()
      .map(_.toSeq)
      .toSet
    val salted = graft.operators.SkewJoin
      .saltedEquiJoin(probe, build, "pk", "bk", salt = 8)
      .select("pk", "pv", "bv")
      .collect()
      .map(_.toSeq)
      .toSet
    assert(salted == plain)
    assert(plain.size == 1000)
  }

  test("as-of join attaches the latest preceding right row per key") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq(
      (1L, "u1", ts(100)),
      (2L, "u1", ts(50)),
      (3L, "u2", ts(100)),
      (4L, "u3", ts(100)) // u3 has no right rows → dropped (inner semantics)
    ).toDF("event_id", "k", "lts")
    val right = Seq(
      ("u1", ts(40), "a"),
      ("u1", ts(90), "b"),
      ("u1", ts(101), "c"), // after both left rows of u1
      ("u2", ts(100), "d")  // tie: rightTs == leftTs counts (<=)
    ).toDF("k", "rts", "payload")
    val out = graft.operators.AsOfJoin
      .asOfBackward(left, right, Seq("k"), "lts", "rts", Seq("payload"))
      .select("event_id", "asof_payload")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(out == Map(1L -> "b", 2L -> "a", 3L -> "d"))
    // forward: smallest rightTs >= leftTs; ties count; u3 still dropped
    val fwd = graft.operators.AsOfJoin
      .asOfForward(left, right, Seq("k"), "lts", "rts", Seq("payload"))
      .select("event_id", "asof_payload")
      .collect()
      .map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(fwd == Map(1L -> "c", 2L -> "b", 3L -> "d"))
  }

  test("dedup keep policy keeps the highest-quality member, not the lowest id") {
    val s = spark
    import s.implicits._
    // planted near-dup pair: docs 10 and 11 share their shingles (identical
    // text), doc 11 padded with richer prose so its quality score is higher;
    // the min-id convention would keep 10 — the policy must keep 11
    val dupBase = Array.fill(30)("the and was for that with spark join").mkString(" ")
    // doc 11 shares 10's shingles (same prefix → LSH pairs them) but carries
    // a pure-stopword tail that raises its stopword-ratio quality term
    val docs = Seq(
      (10L, dupBase),
      (11L, dupBase + " " + Array.fill(20)("the and was that").mkString(" ")),
      (20L, Array.fill(40)("value column window batch merge the was").mkString(" "))
    ).toDF("doc_id", "text")
    val out = graft.queries.PipelineQueries.entries
      .find(_.name == "dedup_keep_policy")
      .get
    // run the Spark side directly on a temp dir holding this corpus
    withTempDir { dir =>
      docs.write.parquet(s"$dir/documents.parquet")
      val kept = out
        .run(spark, dir)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
        .toSet
      // cluster {10, 11}: 11's higher quality beats 10's lower id (the
      // min-id convention would keep 10); singleton 20 keeps itself
      assert(kept === Set((10L, 11L, 2L), (20L, 20L, 1L)), kept.toString)
    }
  }

  test("persisted LSH index returns exactly the direct lshTopK results") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 5)
    withTempDir { dir =>
      graft.operators.Similarity
        .buildLshIndex(emb, "vec_id", "embedding", s"$dir/lsh", bits = 4, dim = 64)
      val fromIndex = graft.operators.Similarity
        .lshTopKFromIndex(queries, "vec_id", "embedding", 10, s"$dir/lsh", bits = 4, dim = 64)
        .select("query_id", "neighbor_id", "rank")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      val direct = graft.operators.Similarity
        .lshTopK(emb, queries, "vec_id", "embedding", 10, bits = 4, dim = 64)
        .select("query_id", "neighbor_id", "rank")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .toSet
      assert(fromIndex === direct)
      assert(direct.nonEmpty)
      // bucket directories are real partitions (pruned candidate fetch)
      val dirs = new java.io.File(s"$dir/lsh").listFiles.map(_.getName).filter(_.startsWith("bucket="))
      assert(dirs.nonEmpty && dirs.forall(_.startsWith("bucket=b")), dirs.mkString(","))
    }
  }

  test("incremental near-dup pairs ≡ full-corpus MinHash pairs restricted to batch-touching") {
    val s = spark
    import s.implicits._
    // corpus with an internal near-dup pair (1, 2); batch re-ingests doc 1's
    // text under id 101 (planted batch-vs-corpus dup), carries an internal
    // dup pair (102, 103), and a novel doc 104
    val a = Array.fill(25)("alpha beta gamma delta epsilon zeta").mkString(" ")
    val b = Array.fill(25)("one two three four five six seven eight").mkString(" ")
    val c = Array.fill(25)("red green blue cyan magenta yellow").mkString(" ")
    val corpus = Seq((1L, a), (2L, a + " tail"), (3L, b)).toDF("doc_id", "text")
    val batch = Seq((101L, a), (102L, c), (103L, c + " tail"), (104L, b.reverse))
      .toDF("doc_id", "text")
    withTempDir { dir =>
      graft.operators.Dedup.buildMinhashIndex(corpus, "doc_id", "text", s"$dir/idx")
      val inc = graft.operators.Dedup
        .incrementalNearDupPairs(batch, "doc_id", "text", s"$dir/idx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // monolithic recompute over corpus ∪ batch, restricted to pairs with a
      // batch member — the equivalence that makes the incremental path a
      // drop-in for the full join
      val mono = graft.operators.Dedup
        .minhashCandidatePairs(corpus.unionByName(batch), "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .filter { case (i, j) => i > 100L || j > 100L }
        .toSet
      assert(inc === mono, s"inc=$inc mono=$mono")
      // planted batch-vs-corpus and batch-internal dups must surface;
      // corpus-internal pair (1,2) must NOT be re-reported
      assert(inc.contains((1L, 101L)) && inc.contains((2L, 101L)), inc.toString)
      assert(inc.contains((102L, 103L)))
      assert(!inc.contains((1L, 2L)))
      // the index layout: ingest partitions outside, 16-way hash prefix inside
      val top = new java.io.File(s"$dir/idx").listFiles.map(_.getName)
        .filter(_.startsWith("ingest_id="))
      assert(top.sameElements(Array("ingest_id=0")), top.mkString(","))
      val dirs = new java.io.File(s"$dir/idx/ingest_id=0").listFiles.map(_.getName)
        .filter(_.startsWith("band_pfx="))
      assert(dirs.nonEmpty && dirs.length <= 16, dirs.mkString(","))
      // append-style ingestion: fold the accepted batch's bands in, then a
      // later batch re-sending doc 101's text pairs with BOTH copies
      graft.operators.Dedup.buildMinhashIndex(
        corpus.unionByName(batch), "doc_id", "text", s"$dir/idx2")
      val later = Seq((201L, a)).toDF("doc_id", "text")
      val inc2 = graft.operators.Dedup
        .incrementalNearDupPairs(later, "doc_id", "text", s"$dir/idx2")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(inc2.contains((1L, 201L)) && inc2.contains((101L, 201L)), inc2.toString)
    }
  }

  test("incremental Hamming pairs ≡ full hammingBandPairs restricted to batch-touching") {
    val s = spark
    import s.implicits._
    // synthetic 64-bit sketches: corpus pair (1, 2) at Hamming 1; batch
    // re-ingests sketch 1 exactly (101), carries an internal near-pair
    // (102, 103) and a far-away stranger (104)
    def bits(seed: Long): String =
      (0 until 64).map(i => if (((seed >> (i % 63)) & 1L) == 1L) '1' else '0').mkString
    val base = bits(0x5a5a5a5a5a5aL)
    def flip(b: String, is: Int*): String =
      is.foldLeft(b)((acc, i) => acc.updated(i, if (acc(i) == '1') '0' else '1'))
    val corpus = Seq((1L, base), (2L, flip(base, 7)), (3L, bits(0x123456789abL)))
      .toDF("id", "bits")
    val batch = Seq(
      (101L, base), (102L, flip(base, 20, 21)), (103L, flip(base, 20, 21, 40)),
      (104L, bits(0x0f0f0f0f0f0fL))
    ).toDF("id", "bits")
    withTempDir { dir =>
      graft.operators.Dedup.buildHammingIndex(corpus, "id", "bits", s"$dir/hidx")
      val inc = graft.operators.Dedup
        .incrementalHammingPairs(batch, "id", "bits", s"$dir/hidx", maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val mono = graft.operators.Dedup
        .hammingBandPairs(corpus.unionByName(batch), "id", "bits", maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .filter { case (i, j, _) => i > 100L || j > 100L }
        .toSet
      assert(inc === mono, s"inc=$inc mono=$mono")
      // exact re-ingest at distance 0; its corpus near-dup at 1; batch pair at 1
      assert(inc.contains((1L, 101L, 0L)) && inc.contains((2L, 101L, 1L)))
      assert(inc.contains((102L, 103L, 1L)))
      // corpus-internal pair (1, 2) not re-reported; stranger unpaired
      assert(!inc.exists { case (i, j, _) => (i, j) == ((1L, 2L)) })
      assert(!inc.exists { case (i, j, _) => i == 104L || j == 104L })
    }
  }

  test("incremental cosine pairs: batch vs persisted LSH index, corpus never re-bucketed") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    withTempDir { dir =>
      graft.operators.Similarity
        .buildLshIndex(emb, "vec_id", "embedding", s"$dir/lsh", bits = 8, dim = 64)
      // batch: exact copies of every 25th vector under shifted ids
      val batch = emb.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      val nBatch = batch.count()
      assert(nBatch > 0)
      val pairs = graft.operators.Similarity
        .incrementalCosinePairs(batch, "vec_id", "embedding", s"$dir/lsh", 0.999,
          bits = 8, dim = 64)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      // every copy pairs with its original at cosine 1.0 (same bucket by
      // construction — identical vector, identical planes)
      val planted = pairs.filter { case (i, j, _) => j == i + 1000000L }
      assert(planted.length == nBatch, s"${planted.length} of $nBatch planted pairs found")
      assert(planted.forall(_._3 == 1.0))
      // every reported pair touches the batch (ids >= 1000000 — vec_id 0
      // maps to exactly 1000000); none is corpus-internal
      assert(pairs.forall { case (i, j, _) => i >= 1000000L || j >= 1000000L })
    }
  }

  test("incremental span duplication ≡ monolithic spanDuplication restricted to batch rows") {
    val s = spark
    import s.implicits._
    val eight = "w1 w2 w3 w4 w5 w6 w7 w8"
    val corpus = Seq((1L, eight), (2L, "c1 c2 c3 c4 c5 c6 c7 c8 c9")).toDF("doc_id", "text")
    val batch = Seq(
      (101L, eight),                      // span lives in the corpus → dup
      (102L, "n1 n2 n3 n4 n5 n6 n7 n8"),  // batch-internal dup with 103
      (103L, "n1 n2 n3 n4 n5 n6 n7 n8"),
      (104L, "z1 z2 z3 z4 z5 z6 z7 z8"),  // novel
      (105L, "too short")                 // < 8 tokens → sentinel
    ).toDF("doc_id", "text")
    withTempDir { dir =>
      graft.operators.Dedup.buildSpanIndex(corpus, "doc_id", "text", s"$dir/idx")
      val inc = graft.operators.Dedup
        .incrementalSpanDuplication(batch, "doc_id", "text", s"$dir/idx")
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      val mono = graft.operators.Dedup
        .spanDuplication(corpus.unionByName(batch), "doc_id", "text")
        .filter(col("doc_id") > 100L)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(inc === mono, s"inc=$inc mono=$mono")
      assert(inc(101L) == ((1L, 1L, 1000000L)))
      assert(inc(102L) == ((1L, 1L, 1000000L)) && inc(103L) == ((1L, 1L, 1000000L)))
      assert(inc(104L) == ((1L, 0L, 0L)))
      assert(inc(105L) == ((0L, 0L, -1L)))
    }
  }

  test("signalMatrix: the four families agree on exact dups and disagree on subsets") {
    val s = spark
    import s.implicits._
    val a = Array.fill(30)("alpha beta gamma delta epsilon zeta").mkString(" ")
    val big = a + " " + Array.fill(60)("one two three four five six").mkString(" ")
    val df = Seq(
      (1L, a), (2L, a),      // exact duplicates
      (3L, big)              // superset containing doc 1's text
    ).toDF("doc_id", "text").withColumn("lang", lit("en")).withColumn("source", lit("s"))
    val out = graft.operators.Dedup
      .signalMatrix(df, "doc_id", "text", Seq("lang", "source"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // exact pair: every family maxes out
    val (j12, x12, mh12, sh12) = out((1L, 2L))
    assert(x12 == 1L && j12 == 1.0 && mh12 == 8L && sh12 == 0L)
    // subset pair: exact 0, Jaccard diluted by the superset's extra mass —
    // the disagreement the matrix exists to surface
    val (j13, x13, _, _) = out((1L, 3L))
    assert(x13 == 0L && j13 < 0.5, s"j13=$j13")
    assert(out.contains((2L, 3L)))
  }

  test("maxBandDf hot-band cap bounds boilerplate fan-out, keeps genuinely-near pairs") {
    val s = spark
    import s.implicits._
    // 40 corpus docs of IDENTICAL boilerplate: every band is shared by all
    // 40 — the candidate storm shape. Two docs of distinct prose form a
    // genuine near-dup pair with an incoming batch copy.
    val boiler = Array.fill(30)("terms of service apply all rights reserved").mkString(" ")
    val real = Array.fill(30)("alpha beta gamma delta epsilon zeta").mkString(" ")
    val corpus = ((1L to 40L).map(i => (i, boiler)) :+ (50L, real)).toDF("doc_id", "text")
    val batch = Seq((101L, boiler), (102L, real + " tail")).toDF("doc_id", "text")
    withTempDir { dir =>
      graft.operators.Dedup.buildMinhashIndex(corpus, "doc_id", "text", s"$dir/idx")
      // uncapped: the boilerplate batch doc pairs with all 40 copies
      val open = graft.operators.Dedup
        .incrementalNearDupPairs(batch, "doc_id", "text", s"$dir/idx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(open.count(_._2 == 101L) == 40)
      assert(open.contains((50L, 102L)))
      // capped at df 10: the 41-doc-hot boilerplate bands are dropped —
      // no candidate storm — while the genuine pair's low-df bands survive
      val capped = graft.operators.Dedup
        .incrementalNearDupPairs(batch, "doc_id", "text", s"$dir/idx", maxBandDf = 10L)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(!capped.exists(p => p._1 == 101L || p._2 == 101L), capped.toString)
      assert(capped === Set((50L, 102L)), capped.toString)
    }
  }

  test("maxBandDf on the monolithic paths: candidate storm collapses, genuine pair survives") {
    val s = spark
    import s.implicits._
    // same shape as the incremental spec, through the monolithic entry
    // points: 40 identical boilerplate docs make every band 40-hot (the
    // C(40,2) = 780-pair storm); docs 50/51 are a genuine near-dup pair
    // whose bands are 2-hot and must survive the cap.
    val boiler = Array.fill(30)("terms of service apply all rights reserved").mkString(" ")
    val real = Array.fill(30)("alpha beta gamma delta epsilon zeta").mkString(" ")
    val df = ((1L to 40L).map(i => (i, boiler)) ++ Seq((50L, real), (51L, real + " tail")))
      .toDF("doc_id", "text")
    val open = graft.operators.Dedup
      .minhashCandidatePairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(open.size == 40 * 39 / 2 + 1, s"uncapped size=${open.size}")
    assert(open.contains((50L, 51L)))
    val capped = graft.operators.Dedup
      .minhashCandidatePairs(df, "doc_id", "text", maxBandDf = 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === Set((50L, 51L)), capped.toString)
    // the cap threads through cluster resolution: boilerplate docs resolve
    // to singletons (no edges), the genuine pair to one 2-cluster
    val cl = graft.operators.Dedup
      .dedupClusters(df, "doc_id", "text", maxBandDf = 10L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cl(50L) == ((50L, 2L)) && cl(51L) == ((50L, 2L)))
    assert(cl(7L) == ((7L, 1L)))
  }

  test("AutoBandDf default: a corpus-hot band is capped while genuine clone bands survive") {
    val s = spark
    import s.implicits._
    // 100 identical boilerplate docs: every band is 100-hot — above the
    // auto cap max(64, 16*ceil(104^0.25)) = 64 — while the genuine pair's
    // bands are 2-hot. The DEFAULT call must engage the cap.
    val boiler = Array.fill(30)("terms of service apply all rights reserved").mkString(" ")
    val real = Array.fill(30)("alpha beta gamma delta epsilon zeta").mkString(" ")
    val fill1 = Array.fill(30)("lorem ipsum dolor sit amet consectetur").mkString(" ")
    val fill2 = Array.fill(30)("sphinx of black quartz judge my vow").mkString(" ")
    val df = ((1L to 100L).map(i => (i, boiler)) ++
      Seq((200L, real), (201L, real + " tail"), (300L, fill1), (301L, fill2)))
      .toDF("doc_id", "text")
    val auto = graft.operators.Dedup
      .minhashCandidatePairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto === Set((200L, 201L)),
      s"auto must drop the 100-hot boilerplate bands and keep the clone pair: $auto")
    // explicit exact mode still returns the full storm
    val open = graft.operators.Dedup
      .minhashCandidatePairs(df, "doc_id", "text", maxBandDf = Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(open.size == 100 * 99 / 2 + 1, s"exact mode size=${open.size}")
    // below the 64 floor nothing engages: the 40-doc corpora of the specs
    // above read identically under auto and exact (df 40 < 64)
    val small = ((1L to 40L).map(i => (i, boiler)) ++
      Seq((200L, real), (201L, real + " tail"))).toDF("doc_id", "text")
    val smallAuto = graft.operators.Dedup
      .minhashCandidatePairs(small, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(smallAuto.size == 40 * 39 / 2 + 1, s"below the floor auto = exact: ${smallAuto.size}")
  }

  test("fuzzyCanonicalVerify: d-1 member rows per clone cluster, chain semantics stated") {
    val s = spark
    import s.implicits._
    val a = Array.fill(30)("alpha beta gamma delta epsilon zeta").mkString(" ")
    val b = Array.fill(30)("one two three four five six").mkString(" ")
    // a 4-clone cluster of doc 10 and an untouched singleton 20
    val df = Seq((10L, a), (11L, a), (12L, a), (13L, a + " tail"), (20L, b))
      .toDF("doc_id", "text")
    val out = graft.operators.Dedup
      .fuzzyCanonicalVerify(df, "doc_id", "text", maxNorm = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // 3 member rows (d−1 = 3 verifications, never C(4,2) = 6), all against
    // the component-min canonical 10; verbatim clones verify at distance 0
    assert(out === Set((11L, 10L, 0L), (12L, 10L, 0L), (13L, 10L, 5L)), out.toString)
  }

  test("deleteFromMinhashIndex: forgotten docs vanish from disk and from future pairings") {
    val s = spark
    import s.implicits._
    val a = Array.fill(25)("alpha beta gamma delta epsilon zeta").mkString(" ")
    val b = Array.fill(25)("one two three four five six seven").mkString(" ")
    withTempDir { dir =>
      val idx = s"$dir/idx"
      graft.operators.Dedup.buildMinhashIndex(
        Seq((1L, a), (2L, b)).toDF("doc_id", "text"), "doc_id", "text", idx)
      // before deletion: a batch copy of doc 1 pairs with it
      val before = graft.operators.Dedup
        .incrementalNearDupPairs(Seq((101L, a)).toDF("doc_id", "text"), "doc_id", "text", idx)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(before === Set((1L, 101L)))
      // forget doc 1: its rows leave the on-disk index entirely…
      graft.operators.Dedup.deleteFromMinhashIndex(spark, Seq(1L).toDF("id"), idx)
      assert(spark.read.parquet(idx).filter(col("id") === 1L).count() == 0L)
      assert(spark.read.parquet(idx).filter(col("id") === 2L).count() > 0L)
      // …and the same batch can no longer be paired against it
      val after = graft.operators.Dedup
        .incrementalNearDupPairs(Seq((101L, a)).toDF("doc_id", "text"), "doc_id", "text", idx)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after.isEmpty, after.toString)
    }
  }

  test("IndexMaintenance.deleteRows forgets vectors from the LSH and PQ indexes too") {
    val s = spark
    import s.implicits._
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 5)
    withTempDir { dir =>
      // LSH: after deleting vector 7, no query may return it; others still do
      graft.operators.Similarity
        .buildLshIndex(emb, "vec_id", "embedding", s"$dir/lsh", bits = 4, dim = 64)
      val pre = graft.operators.Similarity
        .lshTopKFromIndex(queries, "vec_id", "embedding", 10, s"$dir/lsh", bits = 4, dim = 64)
        .select("neighbor_id").distinct().collect().map(_.getLong(0)).toSet
      val victim = (pre - 0L - 1L - 2L - 3L - 4L).head // some returned neighbor
      graft.operators.IndexMaintenance.deleteRows(
        spark, Seq(victim).toDF("neighbor_id"), s"$dir/lsh", "neighbor_id", Seq("bucket"))
      val post = graft.operators.Similarity
        .lshTopKFromIndex(queries, "vec_id", "embedding", 10, s"$dir/lsh", bits = 4, dim = 64)
        .select("neighbor_id").distinct().collect().map(_.getLong(0)).toSet
      assert(!post.contains(victim) && post.nonEmpty)
      // layout survives: bucket partitioning still prunes at the directory level
      val dirs = new java.io.File(s"$dir/lsh").listFiles.map(_.getName).filter(_.startsWith("bucket="))
      assert(dirs.nonEmpty && dirs.forall(_.startsWith("bucket=b")))

      // PQ: delete from the codes table; the deleted vector vanishes from top-k
      graft.operators.Similarity.buildPqIndex(emb, "vec_id", "embedding", s"$dir/pq")
      val preP = graft.operators.Similarity
        .pqTopKFromIndex(queries, "vec_id", "embedding", 10, s"$dir/pq")
        .select("neighbor_id").distinct().collect().map(_.getLong(0)).toSet
      val victimP = (preP -- (0L to 4L)).head
      graft.operators.IndexMaintenance.deleteRows(
        spark, Seq(victimP).toDF("neighbor_id"), s"$dir/pq/codes", "neighbor_id", Nil)
      val postP = graft.operators.Similarity
        .pqTopKFromIndex(queries, "vec_id", "embedding", 10, s"$dir/pq")
        .select("neighbor_id").distinct().collect().map(_.getLong(0)).toSet
      assert(!postP.contains(victimP) && postP.nonEmpty)
    }
  }

  test("nearDupIngestLoop: cross-batch pairs accumulate, index grows, replay is a no-op") {
    val s = spark
    import s.implicits._
    val a = Array.fill(25)("alpha beta gamma delta epsilon zeta").mkString(" ")
    val b = Array.fill(25)("one two three four five six seven eight").mkString(" ")
    withTempDir { dir =>
      val idx = s"$dir/idx"; val pairsDir = s"$dir/pairs"
      // seed: corpus of two distinct docs
      graft.operators.Dedup.buildMinhashIndex(
        Seq((1L, a), (2L, b)).toDF("doc_id", "text"), "doc_id", "text", idx)
      val loop = graft.streaming.StreamingOps
        .nearDupIngestLoop("doc_id", "text", idx, pairsDir)
      def pairsOf(batchId: Long) = spark.read.parquet(s"$pairsDir/_batch=$batchId")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      // batch 0: re-sends doc 1's text → pairs with the seeded corpus
      loop(Seq((101L, a)).toDF("doc_id", "text"), 0L)
      assert(pairsOf(0L) === Set((1L, 101L)))
      // batch 1: duplicates BATCH 0's doc — the cross-batch case the index
      // append exists for — and brings a novel doc
      loop(Seq((201L, a), (202L, "nine ten eleven " * 30)).toDF("doc_id", "text"), 1L)
      assert(pairsOf(1L) === Set((1L, 201L), (101L, 201L)))
      // index now holds seed + both ingests as separate partitions
      val parts = new java.io.File(idx).listFiles.map(_.getName)
        .filter(_.startsWith("ingest_id=")).sorted
      assert(parts.sameElements(Array("ingest_id=0", "ingest_id=1", "ingest_id=2")), parts.mkString(","))
      val idxRows = spark.read.parquet(idx).count()
      // epoch replay of batch 0 (at-least-once foreachBatch): _SUCCESS guard
      // skips it — pairs unchanged, index row count unchanged
      loop(Seq((101L, a)).toDF("doc_id", "text"), 0L)
      assert(pairsOf(0L) === Set((1L, 101L)))
      assert(spark.read.parquet(idx).count() == idxRows)
      // a NEW batch after the replay still sees everything ingested so far
      loop(Seq((301L, a)).toDF("doc_id", "text"), 2L)
      assert(pairsOf(2L) === Set((1L, 301L), (101L, 301L), (201L, 301L)))
    }
  }

  test("weighted sampling overrepresents heavy rows and plans a TakeOrdered top-k") {
    val s = spark
    import s.implicits._
    // 200 light rows (w=1) vs 200 heavy rows (w=50): a 40-row A-ES sample
    // should be dominated by heavy rows (P[light row beats heavy rows] ~ w
    // ratio); determinism makes the check exact, not flaky
    val df = (1 to 400).map(i => (i.toLong, if (i <= 200) 1.0 else 50.0)).toDF("id", "w")
    val out = graft.operators.Sampling.weightedTopK(df, "id", "w", 40)
    val picked = out.select("id").collect().map(_.getLong(0))
    assert(picked.length == 40)
    val heavy = picked.count(_ > 200)
    assert(heavy >= 30, s"expected heavy dominance, got $heavy/40")
    // same seed-free determinism: a second run returns the identical sample
    val again = graft.operators.Sampling.weightedTopK(df, "id", "w", 40)
      .select("id").collect().map(_.getLong(0))
    assert(picked.sameElements(again))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("nearest as-of picks the closer side, preferring preceding on exact ties") {
    val s = spark
    import s.implicits._
    def ts(sec: Int) = new java.sql.Timestamp(sec * 1000L)
    val left = Seq(
      (1L, "u1", ts(100)), // prev 90 (d=10) vs next 105 (d=5) → next
      (2L, "u1", ts(95)),  // prev 90 (d=5) vs next 105 (d=10) → prev
      (3L, "u2", ts(100)), // prev 90 and next 110 both d=10 → tie → prev
      (4L, "u3", ts(100)), // only a future row → forward fallback
      (5L, "u4", ts(100))  // no right rows at all → dropped
    ).toDF("event_id", "k", "lts")
    val right = Seq(
      ("u1", ts(90), 10L),
      ("u1", ts(105), 11L),
      ("u2", ts(90), 20L),
      ("u2", ts(110), 21L),
      ("u3", ts(130), 30L)
    ).toDF("k", "rts", "rid")
    val out = graft.operators.AsOfJoin
      .asOfNearest(left, right, Seq("k"), "lts", "rts", Seq("rid"))
      .collect()
      .map(r => r.getAs[Long]("event_id") -> ((r.getAs[Long]("asof_rid"), r.getAs[Long]("asof_dt_us"))))
      .toMap
    assert(out === Map(
      1L -> ((11L, 5000000L)),
      2L -> ((10L, 5000000L)),
      3L -> ((20L, 10000000L)),
      4L -> ((30L, 30000000L))
    ))
  }

  test("ivf topk recall vs brute force is reasonable") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 60).map { i =>
      val v = Array.tabulate(8)(j =>
        math.sin(i * 0.7 + j * 1.3).toFloat + (if (j == i % 8) 2.0f else 0.0f)
      )
      (i.toLong, v)
    }
    val df = vecs.toDF("vec_id", "embedding")
    val queries = df.filter($"vec_id" < 3)
    def pairs(r: org.apache.spark.sql.DataFrame) =
      r.select("query_id", "neighbor_id").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val exact = pairs(Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", 5))
    val ivf = pairs(
      Similarity.ivfTopK(df, queries, "vec_id", "embedding", 5, centroidStride = 10, nProbe = 3)
    )
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall too low: $recall")
    // Lloyd refinement (kmeansIters > 0) must not degrade recall — the
    // refined centroids fit the data better than the raw stride seed, so the
    // probed cells cover at least as many true neighbors on this fixture.
    val ivfKm = pairs(
      Similarity.ivfTopK(df, queries, "vec_id", "embedding", 5,
        centroidStride = 10, nProbe = 3, kmeansIters = 2)
    )
    val recallKm = exact.intersect(ivfKm).size.toDouble / exact.size
    assert(recallKm >= recall, s"k-means refinement degraded recall: $recallKm < $recall")
    assert(recallKm >= 0.5, s"refined IVF recall too low: $recallKm")
    // IVF-PQ: candidates from IVF cells, ranking from PQ codes — recall
    // bounded by the IVF candidate set; a dense codebook keeps PQ ranking
    // from losing much more on this fixture
    val ivfpq = pairs(
      Similarity.ivfPqTopK(df, queries, "vec_id", "embedding", 5,
        centroidStride = 10, nProbe = 3, m = 2, codebookStride = 5)
    )
    val recallPq = exact.intersect(ivfpq).size.toDouble / exact.size
    assert(recallPq >= 0.4, s"IVF-PQ recall too low: $recallPq")
    assert(ivfpq.forall { case (q, n) => q != n })
  }

  test("sketches: approx distinct and quantiles near exact values") {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val approx = ev
      .agg(approx_count_distinct(col("user_id")).as("a"))
      .head()
      .getLong(0)
      .toDouble
    val exact = ev.select("user_id").distinct().count().toDouble
    assert(math.abs(approx - exact) / exact <= 0.1, s"HLL estimate $approx vs $exact")

    val q = ev
      .agg(percentile_approx(col("value"), lit(0.5), lit(10000)).as("m"))
      .head()
      .getDouble(0)
    val sorted = ev.select("value").orderBy("value").collect().map(_.getDouble(0))
    val exactMedian = sorted(sorted.length / 2)
    assert(math.abs(q - exactMedian) <= math.abs(exactMedian) * 0.05 + 1e-6)
  }

  test("near-dup pairs via embedding cosine finds planted duplicate") {
    val s = spark
    import s.implicits._
    val v1 = Array.tabulate(8)(_.toFloat + 1)
    val v1b = v1.map(x => x * 1.0001f) // same direction → cosine ~ 1
    val v2 = Array.tabulate(8)(j => if (j % 2 == 0) 1.0f else -1.0f)
    val df = Seq((1L, v1), (2L, v1b), (3L, v2)).toDF("vec_id", "embedding")
    val pairs = Similarity
      .nearDupPairs(df, "vec_id", "embedding", 0.99, blocked = false)
      .select("id1", "id2")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("semantic dedup removes only smaller-id near-dups within a cluster") {
    val s = spark
    import s.implicits._
    val removed = Similarity
      .semanticDedup(
        s.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        "vec_id", "embedding", k = 8, threshold = 0.35)
      .collect()
    assert(removed.nonEmpty, "synthetic corpus should contain semantic near-dups")
    // one row per removed vector, dominated by a strictly smaller id, with
    // the pair's cosine at or above the prune threshold
    val ids = removed.map(_.getAs[Long]("vec_id"))
    assert(ids.distinct.length == ids.length)
    removed.foreach { r =>
      assert(r.getAs[Long]("dup_of") < r.getAs[Long]("vec_id"))
      assert(r.getAs[Long]("cluster") >= 1L && r.getAs[Long]("cluster") <= 8L)
      assert(r.getAs[Double]("cos") >= 0.35)
    }
    // seed pick, assignment, and prune are RNG-free — a second run must
    // reproduce the removed set exactly
    val again = Similarity
      .semanticDedup(
        s.read.parquet("/root/testdata/sf0.001/embeddings.parquet"),
        "vec_id", "embedding", k = 8, threshold = 0.35)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(again == removed.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet)
  }

  test("featureHash: signed sums bound by token count, buckets within dim, partition-invariant") {
    val df = docs(
      1L -> "alpha beta alpha gamma",
      2L -> "alpha alpha alpha alpha",
      3L -> ""
    )
    val out = graft.operators.TermStats.featureHash(df, "doc_id", "text", dim = 8).collect()
    assert(out.forall(r => r.getAs[Long]("bucket") >= 0 && r.getAs[Long]("bucket") < 8))
    // doc 2: one term, 4 occurrences → a single bucket at feat = ±4
    val d2 = out.filter(_.getAs[Long]("doc_id") == 2L)
    assert(d2.length == 1 && math.abs(d2.head.getAs[Long]("feat")) == 4L)
    // doc 1 total |mass| ≤ 4 tokens; empty doc contributes no rows
    assert(out.filter(_.getAs[Long]("doc_id") == 1L).map(r => math.abs(r.getAs[Long]("feat"))).sum <= 4)
    assert(!out.exists(_.getAs[Long]("doc_id") == 3L))
    // the same term always lands in the same signed bucket: repartitioned input agrees
    val again = graft.operators.TermStats
      .featureHash(df.repartition(7), "doc_id", "text", dim = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("dictionaryCoverage: full coverage when vocab holds all terms, exact OOV ppm otherwise") {
    val s = spark
    import s.implicits._
    val df = Seq(
      ("a", "x x x y"),
      ("b", "x rare1 rare2 rare3")
    ).toDF("source", "text")
    // vocabK = 2 → vocab = {x, rare1}: x wins on count (4), then the
    // count-1 tie breaks on the term itself ("rare1" < "rare2" < ... < "y")
    val out = graft.operators.TermStats
      .dictionaryCoverage(df, "text", "source", vocabK = 2)
      .collect()
      .map(r => r.getAs[String]("source") -> r)
      .toMap
    assert(out("a").getAs[Long]("tokens") == 4L && out("a").getAs[Long]("in_vocab") == 3L)
    assert(out("a").getAs[Long]("oov_ppm") == 250000L) // y is OOV
    assert(out("b").getAs[Long]("in_vocab") == 2L)     // x, rare1
    assert(out("b").getAs[Long]("oov_ppm") == 500000L)
  }

  test("srmCheck: arms partition the distinct units and ppm matches the closed form") {
    val s = spark
    import s.implicits._
    val df = (1 to 500).map(i => (i.toLong % 250, s"e$i")).toDF("user_id", "x")
    val r = graft.operators.Sampling.srmCheck(df, "user_id").collect().head
    val (n, a, b) = (r.getAs[Long]("n_units"), r.getAs[Long]("n_a"), r.getAs[Long]("n_b"))
    assert(n == 250L && a + b == n)
    assert(r.getAs[Long]("srm_ppm") == (a - b) * (a - b) * 1000000L / n)
  }

  test("poissonBootstrapMeans: one row per replicate, weights replay across partitionings") {
    val s = spark
    import s.implicits._
    val df = (1 to 300).map(i => (i.toLong, 100L + i)).toDF("id", "cents")
    val out = graft.operators.Sampling.poissonBootstrapMeans(df, "id", "cents", b = 16)
    val rows = out.collect()
    assert(rows.length == 16)
    assert(rows.map(_.getAs[Long]("rep")).toSet == (0L until 16L).toSet)
    // Poisson(1) weights: n_eff concentrates near n (±5 sd = ±87 here)
    rows.foreach(r => assert(math.abs(r.getAs[Long]("n_eff") - 300L) < 90L, r.toString))
    // mean of means stays near the true mean (cents ∈ [101, 400], μ = 250.5)
    val grand = rows.map(_.getAs[Long]("mean_milli")).sum / 16
    assert(grand > 230000L && grand < 270000L, grand.toString)
    val again = graft.operators.Sampling
      .poissonBootstrapMeans(df.repartition(11), "id", "cents", b = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet)
  }

  test("prefixFilterPairs is LOSSLESS vs naive all-pairs Jaccard, and prunes candidates") {
    val s = spark
    import s.implicits._
    // 40 docs over a small vocab with planted near-duplicates: doc i and
    // doc i+100 share most words when i % 5 == 0
    val vocab = ('a' to 't').map(_.toString * 3)
    def text(seed: Int, drop: Int) =
      vocab.zipWithIndex.filter { case (_, j) => (seed + j) % 3 != 0 && j != drop }
        .map(_._1).mkString(" ")
    val docs = ((1 to 40).map(i => (i.toLong, text(i, -1))) ++
      (1 to 40).filter(_ % 5 == 0).map(i => (i + 100L, text(i, (i / 5) % 13)))).toDF("id", "txt")

    val got = graft.operators.Dedup
      .prefixFilterPairs(docs, "id", "txt", tauPpm = 500000L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("common"), r.getAs[Long]("jac_ppm")))
      .toSet

    // naive ground truth: every pair, exact 3-word-shingle Jaccard in ppm
    val sets = docs.collect().map { r =>
      r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq
        .sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSet
    }.toMap
    val naive = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size.toLong
      uni = (sets(a) | sets(b)).size.toLong
      jac = inter * 1000000L / uni if jac >= 500000L
    } yield (a, b, inter, jac)).toSet
    assert(got == naive, s"prefix filter lost or invented pairs: got=${got.size} naive=${naive.size}")
    assert(naive.nonEmpty, "fixture must contain qualifying pairs")
  }

  test("incrementalClusters ≡ monolithic dedupClusters, chimera batch doc merges two corpus clusters") {
    val s = spark
    import s.implicits._
    // varied word streams — many distinct shingles, so a concatenated
    // chimera sits at Jaccard ≈ 0.5 against each parent; the "4"/"4x"
    // vocabulary seeds are the deterministically-verified choice whose
    // chimera band-matches BOTH parents (md5 minhash is content-only, so
    // this bridging is stable across runs and machines)
    def varied(ws: Array[String], n: Int): String =
      (0 until n).map(i => ws(i % ws.length) + " " + ws((i * 5 + 1) % ws.length)).mkString(" ")
    val a = varied("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
      .split(" ").map(w => s"${w}4"), 40)
    val b = varied("one two three four five six seven eight nine ten eleven twelve"
      .split(" ").map(w => s"${w}4x"), 40)
    val c = Array.fill(25)("red green blue cyan magenta yellow").mkString(" ")
    val dTxt = Array.fill(25)("north south east west up down").mkString(" ")
    val eTxt = Array.fill(25)("spring summer autumn winter solstice equinox").mkString(" ")
    // corpus clusters: {1,2} (text a), {3,4} (text b), singleton {5}
    val corpus = Seq((1L, a), (2L, a), (3L, b), (4L, b), (5L, c)).toDF("doc_id", "text")
    // batch: 101 bridges a AND b (the chimera), 102 joins 5, 103 is new,
    // {104,105} are a batch-internal pair
    val batch = Seq((101L, a + " " + b), (102L, c), (103L, dTxt), (104L, eTxt), (105L, eTxt))
      .toDF("doc_id", "text")
    withTempDir { dir =>
      graft.operators.Dedup.buildMinhashIndex(corpus, "doc_id", "text", s"$dir/idx")
      graft.operators.Dedup.writeClusterState(
        graft.operators.Dedup.dedupClusters(corpus, "doc_id", "text"),
        "doc_id", "cluster_id", s"$dir/state")
      val inc = graft.operators.Dedup
        .incrementalClusters(batch, "doc_id", "text", s"$dir/idx", s"$dir/state")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val mono = graft.operators.Dedup
        .dedupClusters(corpus.unionByName(batch), "doc_id", "text")
        .select("doc_id", "cluster_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // the contraction equivalence: label-space CC over the persisted state
      // reproduces the monolithic assignment exactly
      assert(inc === mono, s"inc=$inc mono=$mono")
      // the chimera MERGED two existing corpus clusters — all five members
      // (both old clusters + the bridge doc) share the global min label 1;
      // this is the case where corpus rows must be RELABELED, not just read
      assert(Seq(1L, 2L, 3L, 4L, 101L).map(inc).toSet === Set(1L), inc.toString)
      // batch doc joining an existing singleton adopts its label
      assert(inc(102L) === 5L)
      // batch-internal pair clusters to its own min id; stranger stays alone
      assert(inc(104L) === 104L && inc(105L) === 104L && inc(103L) === 103L)
      // full assignment covers corpus ∪ batch, nothing else
      assert(inc.keySet === (1L to 5L).toSet ++ (101L to 105L).toSet)
    }
  }

  test("incrementalHammingClusters ≡ monolithic, batch sketch bridges two corpus clusters") {
    val s = spark
    import s.implicits._
    def bits(seed: Long): String =
      (0 until 64).map(i => if (((seed >> (i % 63)) & 1L) == 1L) '1' else '0').mkString
    def flip(b: String, is: Int*): String =
      is.foldLeft(b)((acc, i) => acc.updated(i, if (acc(i) == '1') '0' else '1'))
    val base = bits(0x5a5a5a5a5a5aL)
    // corpus clusters at maxHamming=3: {1,2} (ham 1), {3,4} (ham 1, both 4
    // flips away from base — NOT paired with cluster {1,2}), singleton {5}
    val corpus = Seq(
      (1L, base), (2L, flip(base, 7)),
      (3L, flip(base, 20, 21, 22, 23)), (4L, flip(base, 20, 21, 22, 23, 40)),
      (5L, bits(0x123456789abL))
    ).toDF("id", "bits")
    // batch: 101 sits BETWEEN the clusters (ham 2 to base, ham 2 to doc 3)
    // — the chimera that merges them; 102 joins the singleton; 103 is new
    val batch = Seq(
      (101L, flip(base, 20, 21)),
      (102L, bits(0x123456789abL)),
      (103L, bits(0x0f0f0f0f0f0fL))
    ).toDF("id", "bits")
    withTempDir { dir =>
      graft.operators.Dedup.buildHammingIndex(corpus, "id", "bits", s"$dir/idx")
      graft.operators.Dedup.writeClusterState(
        graft.operators.Dedup.hammingClusters(corpus, "id", "bits", maxHamming = 3),
        "id", "cluster_id", s"$dir/state")
      val inc = graft.operators.Dedup
        .incrementalHammingClusters(batch, "id", "bits", s"$dir/idx", s"$dir/state", maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val mono = graft.operators.Dedup
        .hammingClusters(corpus.unionByName(batch), "id", "bits", maxHamming = 3)
        .select("id", "cluster_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(inc === mono, s"inc=$inc mono=$mono")
      // the bridge merged {1,2} and {3,4} through 101 — five members, label 1
      assert(Seq(1L, 2L, 3L, 4L, 101L).map(inc).toSet === Set(1L), inc.toString)
      assert(inc(102L) === 5L && inc(103L) === 103L)
    }
  }

  test("incrementalCosineClusters ≡ monolithic cosineClusters, bridge vector merges clusters") {
    val s = spark
    import s.implicits._
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray.padTo(8, 0.0f)
    // clusters at cos ≥ 0.99: {1,2} (same direction, cos 1), {3,4} (same
    // direction), cos across = 0.9802 — separate; 5 is orthogonal
    val corpus = Seq(
      (1L, v(10, 1)), (2L, v(20, 2)),
      (3L, v(10, -1)), (4L, v(20, -2)),
      (5L, v(0, 0, 0, 0, 0, 0, 0, 10))
    ).toDF("vec_id", "embedding")
    // batch: 101 bisects the two clusters (cos 0.995 to each — the bridge),
    // 102 re-sends 5's direction, 103 is new
    val batch = Seq(
      (101L, v(10, 0)),
      (102L, v(0, 0, 0, 0, 0, 0, 0, 20)),
      (103L, v(0, 0, 10))
    ).toDF("vec_id", "embedding")
    withTempDir { dir =>
      graft.operators.Similarity.buildLshIndex(corpus, "vec_id", "embedding", s"$dir/lsh",
        bits = 2, dim = 8)
      graft.operators.Dedup.writeClusterState(
        graft.operators.Similarity.cosineClusters(corpus, "vec_id", "embedding", 0.99,
          bits = 2, dim = 8),
        "vec_id", "cluster_id", s"$dir/state")
      val inc = graft.operators.Similarity
        .incrementalCosineClusters(batch, "vec_id", "embedding", s"$dir/lsh", s"$dir/state",
          0.99, bits = 2, dim = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val mono = graft.operators.Similarity
        .cosineClusters(corpus.unionByName(batch), "vec_id", "embedding", 0.99,
          bits = 2, dim = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(inc === mono, s"inc=$inc mono=$mono")
      // the bridge merged {1,2} and {3,4} (all five share label 1) — this
      // presupposes the five first-component-dominant vectors share their
      // LSH bucket under the pinned seed, which mono confirms independently
      assert(Seq(1L, 2L, 3L, 4L, 101L).map(inc).toSet === Set(1L), inc.toString)
      assert(inc(102L) === 5L && inc(103L) === 103L)
    }
  }

  test("index-bootstrap clusters ≡ monolithic (MinHash band index and LSH vector index)") {
    val s = spark
    import s.implicits._
    val a = Array.fill(25)("alpha beta gamma delta epsilon zeta").mkString(" ")
    val b = Array.fill(25)("one two three four five six seven").mkString(" ")
    val corpus = Seq((1L, a), (2L, a), (3L, b), (4L, b + " tail"), (5L, "lone text")).toDF("doc_id", "text")
    withTempDir { dir =>
      graft.operators.Dedup.buildMinhashIndex(corpus, "doc_id", "text", s"$dir/idx")
      val fromIdx = graft.operators.Dedup
        .clustersFromMinhashIndex(spark, s"$dir/idx")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val mono = graft.operators.Dedup
        .dedupClusters(corpus, "doc_id", "text")
        .select("doc_id", "cluster_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(fromIdx === mono, s"fromIdx=$fromIdx mono=$mono")
    }
    def v(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray.padTo(8, 0.0f)
    val vecs = Seq(
      (1L, v(10, 1)), (2L, v(20, 2)), (3L, v(10, -1)), (4L, v(0, 0, 7))
    ).toDF("vec_id", "embedding")
    withTempDir { dir =>
      graft.operators.Similarity.buildLshIndex(vecs, "vec_id", "embedding", s"$dir/lsh",
        bits = 2, dim = 8)
      val fromIdx = graft.operators.Similarity
        .clustersFromLshIndex(spark, s"$dir/lsh", 0.99)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val mono = graft.operators.Similarity
        .cosineClusters(vecs, "vec_id", "embedding", 0.99, bits = 2, dim = 8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(fromIdx === mono, s"fromIdx=$fromIdx mono=$mono")
      assert(fromIdx(2L) === 1L, fromIdx.toString) // the copies really cluster
    }
  }

  test("clusterIngestLoop: versioned state advances per epoch; replay and crash recovery converge") {
    val s = spark
    import s.implicits._
    val a = Array.fill(25)("alpha beta gamma delta epsilon zeta").mkString(" ")
    val b = Array.fill(25)("one two three four five six seven").mkString(" ")
    val cNew = Array.fill(25)("red green blue cyan magenta yellow").mkString(" ")
    val corpus = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    withTempDir { dir =>
      graft.operators.Dedup.buildMinhashIndex(corpus, "doc_id", "text", s"$dir/idx")
      graft.operators.Dedup.writeClusterState(
        graft.operators.Dedup.dedupClusters(corpus, "doc_id", "text"),
        "doc_id", "cluster_id", s"$dir/st/v=0")
      val loop = graft.streaming.StreamingOps
        .clusterIngestLoop("doc_id", "text", s"$dir/idx", s"$dir/st", s"$dir/asn")
      val b0 = Seq((101L, a), (102L, cNew)).toDF("doc_id", "text")
      val b1 = Seq((201L, cNew)).toDF("doc_id", "text") // pairs with 102 via epoch-0's appended bands
      loop(b0, 0L)
      loop(b1, 1L)
      def stateMap(v: Int) = spark.read.parquet(s"$dir/st/v=$v")
        .select("id", "cluster_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val mono = graft.operators.Dedup
        .dedupClusters(corpus.unionByName(b0).unionByName(b1), "doc_id", "text")
        .select("doc_id", "cluster_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(stateMap(2) === mono, s"v2=${stateMap(2)} mono=$mono")
      // cross-epoch pairing: 201 found 102 through the index, not through text
      assert(stateMap(2)(201L) === 102L && stateMap(2)(101L) === 1L)
      // per-epoch assignment partitions carry only that batch's docs
      val asn1 = spark.read.parquet(s"$dir/asn/_batch=1")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(asn1 === Map(201L -> 102L), asn1.toString)
      // committed-epoch replay is a complete no-op (the _SUCCESS gate)
      val v2Before = stateMap(2)
      loop(b0, 0L)
      assert(stateMap(2) === v2Before && stateMap(1) === stateMap(1))
      // crash simulation: epoch 1's commit mark lost AFTER the state write —
      // the replay must read v=1 again (not v=2, which contains 201) and
      // land on an identical v=2 and identical assignment
      val fs = new java.io.File(s"$dir/asn/_batch=1/_SUCCESS")
      assert(fs.delete())
      loop(b1, 1L)
      assert(stateMap(2) === v2Before)
      val asn1b = spark.read.parquet(s"$dir/asn/_batch=1")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(asn1b === Map(201L -> 102L))
      // the version ladder is complete
      val vs = new java.io.File(s"$dir/st").listFiles.map(_.getName).filter(_.startsWith("v=")).sorted
      assert(vs.sameElements(Array("v=0", "v=1", "v=2")), vs.mkString(","))
      // pruning keeps the newest versions; the next epoch still reads latest
      graft.streaming.StreamingOps.pruneClusterStateVersions(spark, s"$dir/st", keepLast = 2)
      val pruned = new java.io.File(s"$dir/st").listFiles.map(_.getName)
        .filter(_.startsWith("v=")).sorted
      assert(pruned.sameElements(Array("v=1", "v=2")), pruned.mkString(","))
      loop(Seq((301L, a)).toDF("doc_id", "text"), 2L)
      assert(stateMap(3)(301L) === 1L, stateMap(3).toString)
    }
  }

  test("repairClusterState: deleting the bridge splits the cluster, deleted minima retire") {
    val s = spark
    import s.implicits._
    // the deterministically-verified chimera vocabulary (see the
    // incrementalClusters spec): z band-matches both a and b, so
    // {1,2} —z— {4,5} is ONE corpus cluster held together by doc 3
    def varied(ws: Array[String], n: Int): String =
      (0 until n).map(i => ws(i % ws.length) + " " + ws((i * 5 + 1) % ws.length)).mkString(" ")
    val a = varied("alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
      .split(" ").map(w => s"${w}4"), 40)
    val b = varied("one two three four five six seven eight nine ten eleven twelve"
      .split(" ").map(w => s"${w}4x"), 40)
    val z = a + " " + b
    val c = Array.fill(25)("red green blue cyan magenta yellow").mkString(" ")
    val e = Array.fill(25)("north south east west up down").mkString(" ")
    val corpus = Seq(
      (1L, a), (2L, a), (3L, z), (4L, b), (5L, b), // one bridged cluster
      (10L, c), (11L, c), // untouched cluster
      (20L, e) // untouched singleton
    ).toDF("doc_id", "text")
    withTempDir { dir =>
      graft.operators.Dedup.buildMinhashIndex(corpus, "doc_id", "text", s"$dir/idx")
      val full = graft.operators.Dedup.dedupClusters(corpus, "doc_id", "text")
      val fullMap = full.select("doc_id", "cluster_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      // precondition: the chimera really does bridge both halves
      assert(Seq(1L, 2L, 3L, 4L, 5L).map(fullMap).toSet === Set(1L), fullMap.toString)
      graft.operators.Dedup.writeClusterState(full, "doc_id", "cluster_id", s"$dir/state")
      // forget the min-id member AND the bridge
      val deleted = Seq(1L, 3L).toDF("id")
      graft.operators.Dedup.deleteFromMinhashIndex(spark, deleted, s"$dir/idx")
      val repaired = graft.operators.Dedup
        .repairClusterState(spark, deleted, s"$dir/idx", s"$dir/state")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val mono = graft.operators.Dedup
        .dedupClusters(corpus.filter(!col("doc_id").isin(1L, 3L)), "doc_id", "text")
        .select("doc_id", "cluster_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(repaired === mono, s"repaired=$repaired mono=$mono")
      // the bridge's removal split the cluster: 2 alone, {4,5} together,
      // neither keeping the retired label 1
      assert(repaired(2L) === 2L && repaired(4L) === 4L && repaired(5L) === 4L, repaired.toString)
      // untouched clusters pass through byte-for-byte
      assert(repaired(10L) === 10L && repaired(11L) === 10L && repaired(20L) === 20L)
      // deleted ids are gone from the state
      assert(!repaired.contains(1L) && !repaired.contains(3L))
    }
  }

  test("persisted IVF: frozen-centroid append equals a single build; replay is a no-op") {
    val s = spark
    import s.implicits._
    def v(i: Long): Array[Float] =
      Array.tabulate(8)(j => math.sin(i * 0.7 + j * 1.3).toFloat + (if (j == (i % 8).toInt) 2.0f else 0.0f))
    // even ids carry the stride centroids (0, 74); odd ids avoid % 37 = 0
    // (111 excluded), so the union build's centroid set EQUALS the even
    // build's — making append-vs-single-build an exact comparison
    val evens = (0L to 80L by 2).map(i => (i, v(i))).toDF("vec_id", "embedding")
    val odds = (101L to 179L by 2).filter(_ % 37 != 0).map(i => (i, v(i))).toDF("vec_id", "embedding")
    val queries = evens.filter($"vec_id" < 6)
    def rset(d: org.apache.spark.sql.DataFrame) =
      d.select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    withTempDir { dir =>
      graft.operators.Similarity.buildIvfIndex(evens, "vec_id", "embedding", s"$dir/inc")
      graft.operators.Similarity.appendIvfIndex(odds, "vec_id", "embedding", s"$dir/inc", 1L)
      graft.operators.Similarity.buildIvfIndex(
        evens.unionByName(odds), "vec_id", "embedding", s"$dir/mono")
      val inc = rset(graft.operators.Similarity
        .ivfTopKFromIndex(queries, "vec_id", "embedding", 5, s"$dir/inc"))
      val mono = rset(graft.operators.Similarity
        .ivfTopKFromIndex(queries, "vec_id", "embedding", 5, s"$dir/mono"))
      assert(inc === mono, s"inc=$inc mono=$mono")
      assert(inc.exists(_._2 > 100L), "appended vectors must be retrievable")
      // replayed append (same ingest id) is a no-op
      graft.operators.Similarity.appendIvfIndex(odds, "vec_id", "embedding", s"$dir/inc", 1L)
      assert(rset(graft.operators.Similarity
        .ivfTopKFromIndex(queries, "vec_id", "embedding", 5, s"$dir/inc")) === inc)
    }
  }

  /** 1400 8-dim vectors: 38 cells at the default stride 37, past the 32 leaf
    * directories beyond which Spark lists a partitioned tree with a job.
    */
  private def ivfCorpus = {
    val s = spark
    import s.implicits._
    (0L until 1400L)
      .map(i => (i, Array.tabulate(8)(j => math.sin(i * 0.37 + j * 1.1 + (i % 7) * j).toFloat)))
      .toDF("vec_id", "embedding")
  }

  private def ivfRows(d: org.apache.spark.sql.DataFrame) =
    d.select("query_id", "neighbor_id", "cos", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  test("persisted IVF past 32 cells: the probe equals ivfTopK and lists no directories with a job") {
    val corpus = ivfCorpus
    val queries = corpus.filter(col("vec_id") % 175 === 3)
    val sc = spark.sparkContext
    /** The result of `run` and the descriptions of the jobs it submitted. */
    def jobs[A](run: => A): (A, Seq[String]) = {
      val group = s"ivf-probe-${java.util.UUID.randomUUID().toString.take(8)}"
      val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          Option(e.properties).filter(_.getProperty("spark.jobGroup.id") == group)
            .foreach(p => descriptions.add(String.valueOf(p.getProperty("spark.job.description"))))
      }
      sc.addSparkListener(listener)
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val a =
        try run
        finally {
          sc.clearJobGroup()
          org.apache.spark.graft.ListenerBus.drain(sc)
          sc.removeSparkListener(listener)
        }
      (a, descriptions.asScala.toSeq)
    }
    withTempDir { dir =>
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", s"$dir/idx")
      // every file of the build's ingest directory is sorted by cell
      val byFile = spark.read.parquet(s"$dir/idx/cells/ingest_id=0")
        .select(input_file_name(), col("cell")).collect()
        .groupBy(_.getString(0)).values.map(_.map(_.getLong(1)).toSeq)
      assert(byFile.forall(cs => cs == cs.sorted) && byFile.flatten.toSet.size == 38)
      def probe() = ivfRows(Similarity.ivfTopKFromIndex(queries, "vec_id", "embedding", 5, s"$dir/idx"))
      // the first read after a build also infers the cells' schema (one job)
      val (first, cold) = jobs(probe())
      val (got, warm) = jobs(probe())
      assert(got === ivfRows(Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 5)))
      assert(first === got && got.size == 8 * 5)
      for (js <- Seq(cold, warm))
        assert(!js.exists(_.startsWith("Listing leaf files")), js.mkString("; "))
      assert(warm.size <= 7, warm.mkString("; "))
    }
  }

  test("persisted IVF in many row groups: a two-cell probe reads only the row groups holding its cells") {
    val corpus = ivfCorpus
    val query = corpus.filter(col("vec_id") === 3L)
    object plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    withTempDir { dir =>
      // ~100-row row groups, so the one cell-sorted file holds 14 of them
      spark.conf.set("parquet.block.size", "1024")
      try Similarity.buildIvfIndex(corpus, "vec_id", "embedding", s"$dir/idx")
      finally spark.conf.unset("parquet.block.size")
      val got = Similarity.ivfTopKFromIndex(query, "vec_id", "embedding", 5, s"$dir/idx", nProbe = 2)
      assert(ivfRows(got) ===
        ivfRows(Similarity.ivfTopK(corpus, query, "vec_id", "embedding", 5, nProbe = 2)))
      got.collect() // runs got's own plan, whose scan metrics are read below
      val scanned = plans.collect(got.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.getName == "cells") =>
          s.metrics("numOutputRows").value
      }.sum
      // the two probed cells hold ~74 of the 1400 vectors; unsorted row
      // groups would each span every cell and the scan would read all 1400
      assert(scanned > 0 && scanned <= 400, s"the cell scan read $scanned of 1400 rows")
    }
  }

  test("persisted IVF: an index in the cell=K/ directory layout still answers; appending to it throws") {
    val corpus = ivfCorpus
    val queries = corpus.filter(col("vec_id") % 175 === 3)
    withTempDir { dir =>
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", s"$dir/new")
      // the same index in the older one-directory-per-cell layout
      spark.read.parquet(s"$dir/new/centroids").write.parquet(s"$dir/old/centroids")
      spark.read.parquet(s"$dir/new/cells").write
        .partitionBy("ingest_id", "cell").parquet(s"$dir/old/cells")
      assert(ivfRows(Similarity.ivfTopKFromIndex(queries, "vec_id", "embedding", 5, s"$dir/old")) ===
        ivfRows(Similarity.ivfTopKFromIndex(queries, "vec_id", "embedding", 5, s"$dir/new")))
      def files: Set[String] = {
        val w = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$dir/old"))
        try w.iterator().asScala.map(_.toString).toSet finally w.close()
      }
      val before = files
      val batch = corpus.filter(col("vec_id") < 10).withColumn("vec_id", col("vec_id") + 5000L)
      val e = intercept[IllegalStateException] {
        Similarity.appendIvfIndex(batch, "vec_id", "embedding", s"$dir/old", 1L)
      }
      assert(e.getMessage.contains(s"$dir/old") && e.getMessage.contains("rebuild it with buildIvfIndex"),
        e.getMessage)
      assert(files === before, "a refused append must write nothing")
    }
  }

  test("assertFreshIds throws on a colliding batch id, passes on fresh ones") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      graft.operators.Dedup.writeClusterState(
        Seq((1L, 1L), (2L, 1L)).toDF("id", "cluster_id"), "id", "cluster_id", s"$dir/st")
      graft.operators.Dedup.assertFreshIds(spark, Seq(101L, 102L).toDF("id"), s"$dir/st")
      val e = intercept[IllegalArgumentException] {
        graft.operators.Dedup.assertFreshIds(spark, Seq(2L, 103L).toDF("id"), s"$dir/st")
      }
      assert(e.getMessage.contains("2"), e.getMessage)
    }
  }

  test("clusterStateDiff: delta-sized, sentinel-marked, unchanged rows excluded") {
    val s = spark
    import s.implicits._
    withTempDir { dir =>
      graft.operators.Dedup.writeClusterState(
        Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 4L)).toDF("id", "cluster_id"),
        "id", "cluster_id", s"$dir/s0")
      graft.operators.Dedup.writeClusterState(
        Seq((2L, 2L), (3L, 3L), (4L, 4L), (5L, 4L)).toDF("id", "cluster_id"),
        "id", "cluster_id", s"$dir/s1")
      val diff = graft.operators.Dedup
        .clusterStateDiff(spark, s"$dir/s0", s"$dir/s1")
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      assert(diff === Map(
        1L -> ((1L, -1L, "removed")),
        2L -> ((1L, 2L, "relabeled")),
        5L -> ((-1L, 4L, "added"))
      ), diff.toString) // 3 and 4 are unchanged and must not appear
    }
  }

  test("repairHammingClusterState: bridge deletion splits the chain; untouched clusters persist") {
    val s = spark
    import s.implicits._
    def bits(seed: Long): String =
      (0 until 64).map(i => if (((seed >> (i % 63)) & 1L) == 1L) '1' else '0').mkString
    def flip(b: String, is: Int*): String =
      is.foldLeft(b)((acc, i) => acc.updated(i, if (acc(i) == '1') '0' else '1'))
    val base = bits(0x3c3c3c3c3c3cL)
    val far = bits(0x9999aaaabbbbL)
    // chain cluster {1,2,3}: 1–2 and 2–3 at Hamming 2, 1–3 at 4 — doc 2 is
    // the only bridge; {10,11} is an untouched cluster
    val corpus = Seq(
      (1L, base), (2L, flip(base, 0, 1)), (3L, flip(base, 0, 1, 2, 3)),
      (10L, far), (11L, flip(far, 9))
    ).toDF("id", "bits")
    withTempDir { dir =>
      graft.operators.Dedup.buildHammingIndex(corpus, "id", "bits", s"$dir/idx")
      graft.operators.Dedup.writeClusterState(
        graft.operators.Dedup.hammingClusters(corpus, "id", "bits", maxHamming = 3),
        "id", "cluster_id", s"$dir/state")
      val deleted = Seq(2L).toDF("id")
      graft.operators.IndexMaintenance.deleteRows(spark, deleted, s"$dir/idx", "id", Seq("band_pfx"))
      val repaired = graft.operators.Dedup
        .repairHammingClusterState(spark, deleted, s"$dir/idx", s"$dir/state", maxHamming = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val mono = graft.operators.Dedup
        .hammingClusters(corpus.filter(col("id") =!= 2L), "id", "bits", maxHamming = 3)
        .select("id", "cluster_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(repaired === mono, s"repaired=$repaired mono=$mono")
      assert(repaired(1L) === 1L && repaired(3L) === 3L, repaired.toString) // the chain split
      assert(repaired(10L) === 10L && repaired(11L) === 10L) // untouched cluster intact
      assert(!repaired.contains(2L))
    }
  }

  test("compactMinhashIndex: one-layout rewrite, pairing unchanged, dirs collapse") {
    val s = spark
    import s.implicits._
    val a = Array.fill(25)("alpha beta gamma delta epsilon zeta").mkString(" ")
    val b = Array.fill(25)("one two three four five six seven").mkString(" ")
    withTempDir { dir =>
      val idx = s"$dir/idx"
      graft.operators.Dedup.buildMinhashIndex(Seq((1L, a)).toDF("doc_id", "text"), "doc_id", "text", idx)
      graft.operators.Dedup.appendMinhashIndex(Seq((2L, b)).toDF("doc_id", "text"), "doc_id", "text", idx, 1L)
      graft.operators.Dedup.appendMinhashIndex(Seq((3L, a)).toDF("doc_id", "text"), "doc_id", "text", idx, 2L)
      val probe = Seq((101L, a)).toDF("doc_id", "text")
      val before = graft.operators.Dedup
        .incrementalNearDupPairs(probe, "doc_id", "text", idx)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val rowsBefore = spark.read.parquet(idx).count()
      graft.operators.Dedup.compactMinhashIndex(spark, idx)
      // every ingest partition folded into the initial build's layout
      val top = new java.io.File(idx).listFiles.map(_.getName).filter(_.startsWith("ingest_id="))
      assert(top.sameElements(Array("ingest_id=0")), top.mkString(","))
      assert(spark.read.parquet(idx).count() === rowsBefore)
      val after = graft.operators.Dedup
        .incrementalNearDupPairs(probe, "doc_id", "text", idx)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(after === before, s"after=$after before=$before")
      assert(after === Set((1L, 101L), (3L, 101L)))
    }
  }

  test("decontaminateByIndex: benchmark band-matches flag corpus docs without a corpus text pass") {
    val s = spark
    import s.implicits._
    val a = Array.fill(25)("alpha beta gamma delta epsilon zeta").mkString(" ")
    val b = Array.fill(25)("one two three four five six seven").mkString(" ")
    val c = Array.fill(25)("red green blue cyan magenta yellow").mkString(" ")
    val corpus = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "text")
    // bench: two near-copies of doc 1's content (verbatim + tail-perturbed),
    // one stranger — doc 1 is contaminated twice over, docs 2 and 3 clean
    val bench = Seq((901L, a), (902L, a + " tail"), (903L, "totally different words here"))
      .toDF("doc_id", "text")
    withTempDir { dir =>
      val idx = s"$dir/idx"
      graft.operators.Dedup.buildMinhashIndex(corpus, "doc_id", "text", idx)
      val got = graft.operators.Dedup
        .decontaminateByIndex(bench, "doc_id", "text", idx)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === Map(1L -> 2L), got.toString)
    }
  }

  test("apportionedSample: exact global budget, largest-remainder extras, nested membership") {
    val s = spark
    import s.implicits._
    // strata sizes 7, 5, 3 (N=15), budget 10: bases ⌊70/15⌋=4, ⌊50/15⌋=3,
    // ⌊30/15⌋=2 → 9; remainders 10, 5, 0 → the one leftover goes to 'a'
    val df = (Seq.fill(7)("a") ++ Seq.fill(5)("b") ++ Seq.fill(3)("c"))
      .zipWithIndex.map { case (g, i) => (g, i.toLong) }.toDF("g", "k")
    val out = graft.operators.Sampling.apportionedSample(df, Seq("g"), "k", total = 10L)
      .collect().map(r => r.getString(0)).groupBy(identity).view.mapValues(_.length).toMap
    assert(out == Map("a" -> 5, "b" -> 3, "c" -> 2), out.toString)
    // nesting: the budget-10 sample contains the budget-5 sample
    val small = graft.operators.Sampling.apportionedSample(df, Seq("g"), "k", total = 5L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val big = graft.operators.Sampling.apportionedSample(df, Seq("g"), "k", total = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(small.subsetOf(big), s"small $small not in big $big")
  }

  test("sprtDecision: crosses the right boundary at the right index, else continues") {
    val s = spark
    import s.implicits._
    // llrPos 1.0, llrNeg -1.0, bound 2.5: stream of successes crosses +2.5
    // at obs 3; failures cross −2.5 at obs 3; alternating never decides
    def stream(key: String, xs: Seq[Boolean]) =
      xs.zipWithIndex.map { case (x, i) => (key, i.toLong, x) }
    val obs = (stream("up", Seq.fill(5)(true)) ++
      stream("down", Seq.fill(5)(false)) ++
      stream("flat", Seq(true, false, true, false, true)))
      .toDF("g", "seq", "x")
    val out = graft.operators.TimeSeries
      .sprtDecision(obs, "g", Seq("seq"), "x", "1.0", "-1.0", "2.5")
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out("up") == (("h1", 3L, 3.0)), out.toString)
    assert(out("down") == (("h0", 3L, -3.0)))
    assert(out("flat") == (("continue", 5L, 1.0)))
  }

  test("cdcChunkTable: lossless split, prefix re-sync, fixed grid does not re-sync") {
    val s = spark
    import s.implicits._
    // deterministic pseudo-random ASCII: 13 md5 hex blocks = 416 chars
    def md5hex(x: String) = java.security.MessageDigest
      .getInstance("MD5").digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val text = (0 until 13).map(i => md5hex(s"cdc$i")).mkString
    val df = Seq((1L, text), (2L, "DUP: " + text), (3L, "")).toDF("id", "t")
    val ch = graft.operators.Dedup.cdcChunkTable(df, "id", "t")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // lossless: chunks concatenate back to the input
    assert(ch(1L).mkString == text)
    assert(ch(2L).mkString == "DUP: " + text)
    assert(ch(3L) == Seq("")) // empty doc → one empty chunk
    // content-defined: every original boundary b >= 8 survives the 5-char
    // prefix (its window never reaches the prefix), so the tails agree
    val k = ch(1L).size - 1
    assert(k >= 2, s"fixture too smooth: only ${k + 1} chunks")
    assert(ch(2L).takeRight(k) == ch(1L).takeRight(k), "CDC tail did not re-sync")
    // the fixed grid shifts every cell by 5 — nothing re-syncs
    val fx = graft.operators.Dedup.fixedChunkTable(df.filter(col("id") =!= 3L), "id", "t")
      .collect().map(r => (r.getLong(0), r.getString(2)))
    val f1 = fx.filter(_._1 == 1L).map(_._2).toSet
    val f2 = fx.filter(_._1 == 2L).map(_._2).toSet
    assert(f1.intersect(f2).isEmpty, "fixed grid unexpectedly shared chunks")
    // storage accounting: the duplicated tail chunks are stored once
    val stats = graft.operators.Dedup.chunkStorageStats(
      graft.operators.Dedup.cdcChunkTable(df, "id", "t").withColumn("scheme", lit("cdc")),
      "scheme", "chunk"
    ).collect().head
    assert(stats.getAs[Long]("n_chunks") > stats.getAs[Long]("n_unique"))
    assert(stats.getAs[Long]("saved_ppm") > 0L)
  }

  test("emdDriftByPeriod: full one-band shift = 1e6 ppm, identical periods = 0") {
    val s = spark
    import s.implicits._
    // d1 all band 0, d2 all band 1 (full shift → EMD 1), d3 ≡ d2 (→ 0)
    val df = Seq(
      ("d1", 0L), ("d1", 0L), ("d2", 1L), ("d2", 1L), ("d3", 1L), ("d3", 1L)
    ).toDF("p", "b")
    val out = graft.operators.TimeSeries.emdDriftByPeriod(df, "p", "b")
      .collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getAs[Long]("emd_ppm"))))
      .toMap
    assert(out == Map("d2" -> (("d1", 1000000L)), "d3" -> (("d2", 0L))), out.toString)
    // half shift: d2' = one row each band vs d1 all band0 → EMD 1/2
    val half = Seq(("d1", 0L), ("d1", 0L), ("d2", 0L), ("d2", 1L)).toDF("p", "b")
    val o2 = graft.operators.TimeSeries.emdDriftByPeriod(half, "p", "b")
      .collect().map(r => r.getAs[Long]("emd_ppm")).toSeq
    assert(o2 == Seq(500000L), o2.toString)
  }

  test("sortedNeighborPairs: window pairs within blocks, catches band-straddlers") {
    val s = spark
    import s.implicits._
    // block X sorted by v: ids 1(98) 2(101) 3(300); block Y: id 4 alone
    val df = Seq((1L, "X", 98L), (2L, "X", 101L), (3L, "X", 300L), (4L, "Y", 50L))
      .toDF("id", "blk", "v")
    val out = graft.operators.Dedup
      .sortedNeighborPairs(df, "id", Seq("blk"), Seq("v"), w = 2, carryCols = Seq("v"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSet
    // pairs: (1,2,gap1) (1,3,gap2) (2,3,gap1); singleton block Y yields none
    assert(out == Set((1L, 2L, 1L, 98L, 101L), (1L, 3L, 2L, 98L, 300L),
      (2L, 3L, 1L, 101L, 300L)), out.toString)
    // the (98, 101) pair is close (diff 3) but straddles the v div 100
    // bucket edge — the pair equi-join bucket blocking misses
    val straddler = out.find(p => (p._4 - p._5).abs <= 10 && p._4 / 100 != p._5 / 100)
    assert(straddler.nonEmpty)
  }

  test("kCenterGreedy: max-min traversal picks the hand-computed order") {
    val s = spark
    import s.implicits._
    val zeros = "0" * 64
    val ones = "1" * 64
    val half = "1" * 32 + "0" * 32
    val nearZero = "0" * 63 + "1"
    val df = Seq((1L, zeros), (2L, ones), (3L, half), (4L, nearZero))
      .toDF("id", "sig")
    val out = graft.operators.Sampling.kCenterGreedy(df, "id", "sig", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // seed = min id; then farthest-first: ones (64), half (min(32,32)=32),
    // nearZero (min(1,63,31)=1)
    assert(out.toSeq == Seq((0L, 1L, -1L), (1L, 2L, 64L), (2L, 3L, 32L), (3L, 4L, 1L)),
      out.mkString(","))
    // k larger than the frame: stops at 4 rows without error
    val short = graft.operators.Sampling.kCenterGreedy(df, "id", "sig", k = 9)
    assert(short.count() == 4)
  }

  test("cslsTopK: hub neighbor demoted below the isolated true match") {
    val s = spark
    import s.implicits._
    // q's plain-cosine ranking prefers the hub h (cos .9701) over the
    // isolated match x (cos .9578); h sits in a dense clump of 6 clones, so
    // r(h) ≈ .995 while r(x) ≈ .93 — CSLS flips the order.
    val vecs = Seq(
      0L -> Array(1f, 0f, 0f, 0f),      // query q
      1L -> Array(1f, 0.3f, 0f, 0f),    // isolated true match x
      2L -> Array(1f, 0f, 0.25f, 0f)    // hub h
    ) ++ (3 to 8).map(i => i.toLong -> Array(1f, 0f, 0.25f, 0.01f * (i - 2)))
    val df = vecs.toDF("vec_id", "embedding")
    // fixture assumption: one LSH bucket (all vectors share the dominant
    // first coordinate) — assert it so a failure reads as fixture drift
    val nb = graft.operators.Similarity
      .lshBuckets(df, "vec_id", "embedding", bits = 1, dim = 4)
      .select("bucket").distinct().count()
    assert(nb == 1, s"fixture split across $nb buckets")
    val out = graft.operators.Similarity
      .cslsTopK(df, df.filter(col("vec_id") === 0L), "vec_id", "embedding",
        k = 8, kR = 7, bits = 1, dim = 4)
      .collect()
      .map(r => r.getAs[Long]("neighbor_id") ->
        ((r.getAs[Double]("cos"), r.getAs[Double]("csls"), r.getAs[Int]("rank"))))
      .toMap
    // plain cosine prefers the hub...
    assert(out(2L)._1 > out(1L)._1, s"fixture: hub should win on cosine ($out)")
    // ...CSLS prefers the isolated match
    assert(out(1L)._2 > out(2L)._2, s"csls did not demote the hub ($out)")
    assert(out(1L)._3 < out(2L)._3)
    // csls = 2·cos − r_q − r_x holds row-wise (cos is the 6-dp view of the
    // 9-dp quantized value the formula uses → 2e-6 slack)
    val rows = graft.operators.Similarity
      .cslsTopK(df, df.filter(col("vec_id") === 0L), "vec_id", "embedding",
        k = 8, kR = 7, bits = 1, dim = 4)
      .collect()
    rows.foreach { r =>
      val expect = 2 * r.getAs[Double]("cos") - r.getAs[Double]("r_q") - r.getAs[Double]("r_x")
      assert(math.abs(r.getAs[Double]("csls") - expect) < 2e-6, r.toString)
    }
  }

  test("clusterAgreement: hand-computed RI/ARI, identity, and degenerate conventions") {
    val s = spark
    import s.implicits._
    def agree(la: Seq[Int], lb: Seq[Int]) = {
      val a = la.zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("id", "la")
      val b = lb.zipWithIndex.map { case (l, i) => (i.toLong, l) }.toDF("id", "lb")
      val r = graft.operators.Dedup.clusterAgreement(a, b, "id", "la", "lb").collect().head
      (r.getAs[Long]("ri_ppm"), r.getAs[Double]("ari"))
    }
    // A={12|34}, B={123|4}: contingency 2,1,1 → Σij=1, Σa=2, Σb=3, C=6:
    // RI = (6-2-3+2)/6 = 1/2; ARI num = 2(6·1-6) = 0 → 0
    assert(agree(Seq(1, 1, 2, 2), Seq(1, 1, 1, 2)) == ((500000L, 0.0)))
    // identical clusterings → RI 1, ARI 1
    assert(agree(Seq(1, 1, 2, 2), Seq(7, 7, 9, 9)) == ((1000000L, 1.0)))
    // all-singletons vs all-singletons: denominator 0 → convention ARI 1
    assert(agree(Seq(1, 2, 3, 4), Seq(4, 3, 2, 1)) == ((1000000L, 1.0)))
    // opposite extremes: one big cluster vs singletons → RI 0, ARI 0
    assert(agree(Seq(1, 1, 1, 1), Seq(1, 2, 3, 4)) == ((0L, 0.0)))
  }

  test("consistentShardAssign: deterministic, balanced-ish, minimal movement on growth") {
    val s = spark
    import s.implicits._
    val keys = (1L to 500L).toDF("k")
    def assign(n: Int) = graft.operators.Sampling
      .consistentShardAssign(keys, "k", n, vnodesPerShard = 16)
      .collect().map(r => r.getAs[Long]("k") -> r.getAs[Int]("shard")).toMap
    val a8 = assign(8)
    assert(assign(8) == a8) // deterministic
    assert(a8.values.forall(v => v >= 0 && v < 8))
    assert(a8.values.toSet.size == 8, "every shard should own keys at 500/8")
    val a9 = assign(9)
    val moved = a8.keys.filter(k => a8(k) != a9(k)).toSeq
    // THE consistent-hashing property: growth moves keys only onto the new shard
    assert(moved.forall(k => a9(k) == 8), s"moves not confined to new shard")
    val frac = moved.size.toDouble / 500
    assert(frac > 0.02 && frac < 0.35, s"moved fraction $frac out of band (~1/9 expected)")
  }

  test("sourceOverlapMatrix: relabeled feed detected, disjoint pair reads zero") {
    val s = spark
    import s.implicits._
    // a and b share one doc verbatim (the relabeled-feed case);
    // c is disjoint; d has no shingles (2 words) — sizes must still appear
    val df = Seq(
      ("a", "alpha beta gamma delta"),   // shingles: {abg, bgd'}
      ("a", "one two three four"),
      ("b", "alpha beta gamma delta"),   // == a's first doc
      ("b", "five six seven eight"),
      ("c", "nine ten eleven twelve"),
      ("d", "too short")
    ).toDF("source", "text")
    val m = graft.operators.Dedup.sourceOverlapMatrix(df, "source", "text")
      .collect()
      .map(r => (r.getAs[String]("src1"), r.getAs[String]("src2")) ->
        ((r.getAs[Long]("n1"), r.getAs[Long]("n2"),
          r.getAs[Long]("n_shared"), r.getAs[Long]("jaccard_ppm"))))
      .toMap
    assert(m.size == 6, m.keys.toString) // 4 groups → 6 pairs, zeros included
    // a: 4 shingles (2 per doc), b: 4, shared: the duplicated doc's 2
    assert(m(("a", "b")) == ((4L, 4L, 2L, 2L * 1000000L / 6L)), m(("a", "b")).toString)
    assert(m(("a", "c")) == ((4L, 2L, 0L, 0L)))
    // the shingle-less group pairs with jaccard 0 but non-crashing division
    assert(m(("a", "d"))._3 == 0L && m(("a", "d"))._4 == 0L)
    assert(m(("c", "d"))._2 == 0L, "d has no shingles -> size 0 via grid")
  }

  test("shapleyCredit: textbook two-channel values, efficiency, null player") {
    val s = spark
    import s.implicits._
    // v({})=0, v({A})=0.6, v({B})=0.2, v({A,B})=1.0
    // φ_A = ((0.6−0) + (1.0−0.2))/2 = 0.7 ; φ_B = 0.3
    val users =
      Seq.fill(2)((false, false, false)) ++
        (Seq.fill(3)((true, false, true)) ++ Seq.fill(2)((true, false, false))) ++
        (Seq.fill(1)((false, true, true)) ++ Seq.fill(4)((false, true, false))) ++
        Seq.fill(2)((true, true, true))
    val df = users.toDF("a", "b", "conv")
    val out = graft.operators.Attribution
      .shapleyCreditFromExposures(df, Seq("a", "b"), "conv")
      .collect()
      .map(r => r.getAs[String]("channel") ->
        ((r.getAs[Long]("phi_ppm"), r.getAs[Long]("exposed_users")))).toMap
    assert(out("a") == ((700000L, 7L)), out.toString)
    assert(out("b") == ((300000L, 7L)), out.toString)
    // efficiency: Σφ = v(full) − v(∅)
    assert(out.values.map(_._1).sum == 1000000L)
    // null player: an EXPOSED channel that never moves conversion gets zero
    // credit — duplicate the population with z on/off at identical rates so
    // v(S∪z) = v(S) for every coalition
    val withNull = df.withColumn("z", lit(false))
      .unionAll(df.withColumn("z", lit(true)))
    val phi0 = graft.operators.Attribution
      .shapleyCreditFromExposures(withNull, Seq("a", "b", "z"), "conv")
      .collect().map(r => r.getAs[String]("channel") -> r.getAs[Long]("phi_ppm")).toMap
    assert(phi0("z") == 0L, phi0.toString)
    assert(phi0("a") == 700000L && phi0("b") == 300000L, phi0.toString)
    // the raw-events presence variant wires through the same core
    val ev = Seq((1L, "x"), (1L, "buy"), (2L, "y"), (3L, "x"), (3L, "y"), (3L, "buy"))
      .toDF("u", "t")
    val pres = graft.operators.Attribution
      .shapleyCredit(ev, "u", "t", Seq("x", "y"), "buy")
      .collect().map(r => r.getAs[String]("channel") -> r.getAs[Long]("phi_ppm")).toMap
    // v({x})=1, v({y})=0, v({x,y})=1 → φ_x = 1, φ_y = 0
    assert(pres("x") == 1000000L && pres("y") == 0L, pres.toString)
  }

  test("clusterSafeSplitReport: cluster-unanimous splits, exact leak census") {
    val s = spark
    import s.implicits._
    // 3 clusters: {1,2,3} (cluster 1), {10,11} (cluster 10), {20} singleton.
    val clusters = Seq(
      (1L, 1L), (2L, 1L), (3L, 1L),
      (10L, 10L), (11L, 10L),
      (20L, 20L)
    ).toDF("doc_id", "cluster_id")
    val rep = graft.operators.Sampling
      .clusterSafeSplitReport(clusters, "doc_id", "cluster_id", 0.5)
      .collect()
    // every doc of a cluster lands on ONE side: per-split cluster/doc counts
    // must re-partition the input exactly
    assert(rep.map(_.getAs[Long]("n_docs")).sum == 6L)
    assert(rep.map(_.getAs[Long]("n_clusters")).sum == 3L)
    assert(rep.map(_.getAs[Long]("docs_ppm")).sum >= 999998L)
    // the leak census replays the per-doc hash independently: recompute it
    val naive = clusters
      .select(col("doc_id"), col("cluster_id"),
        graft.operators.Sampling.splitTag(col("doc_id"), 0.5).as("naive"),
        graft.operators.Sampling.splitTag(col("cluster_id"), 0.5).as("split"))
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[String]("naive"), r.getAs[String]("split")))
    val straddling = naive.groupBy(_._2).filter(_._2.map(_._3).distinct.size > 1).keySet
    val wantLeaks = naive.filter(t => straddling(t._2)).groupBy(_._4)
      .view.mapValues(_.length.toLong).toMap
    rep.foreach { r =>
      assert(r.getAs[Long]("naive_leaky_docs") ==
        wantLeaks.getOrElse(r.getAs[String]("split"), 0L), r.toString)
    }
    // and the split really is a pure function of cluster_id
    assert(naive.groupBy(_._2).values.forall(_.map(_._4).distinct.size == 1))
  }
}

package graft

import graft.operators.{Dedup, ParquetIO, Similarity}

/** The memoized-schema reader never serves a schema from before a rewrite:
  * every index builder drops the entries of the paths it overwrites, and
  * invalidation matches keys however the path was qualified.
  */
class ParquetIOSpec extends SparkSpec {

  private def columns(path: String): Set[String] =
    ParquetIO.read(spark, path).columns.toSet

  test("index builders invalidate the memoized schema of the paths they overwrite") {
    val s = spark
    import s.implicits._
    val vecs = (0L until 40L)
      .map(i => (i, Array.tabulate(8)(j => ((i * 13 + j * 7) % 19 - 9).toFloat / 3f)))
      .toDF("vec_id", "embedding")
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    withTempDir { dir =>
      // (build into root, paths it writes, one column each must then show)
      val builds: Seq[(String => Unit, Seq[(String, String)])] = Seq(
        (root => Dedup.buildSpanIndex(docs, "doc_id", "text", root, k = 3),
          Seq("" -> "h")),
        (root => Similarity.buildIvfIndex(vecs, "vec_id", "embedding", root),
          Seq("/centroids" -> "cv", "/cells" -> "nv")),
        (root => Similarity.buildPqIndex(vecs, "vec_id", "embedding", root, m = 2,
          codebookStride = 10),
          Seq("/codebook" -> "_cvf", "/codes" -> "_code")),
        (root => Similarity.buildLshIndex(vecs, "vec_id", "embedding", root, bits = 3),
          Seq("" -> "bucket"))
      )
      builds.zipWithIndex.foreach { case ((build, outputs), i) =>
        val root = s"$dir/idx$i"
        // a previous occupant with another column set, read (and memoized)
        outputs.foreach { case (sub, _) =>
          Seq((1, "x")).toDF("stale_a", "stale_b").write.parquet(root + sub)
          assert(columns(root + sub) == Set("stale_a", "stale_b"))
        }
        build(root)
        outputs.foreach { case (sub, col) =>
          val now = columns(root + sub)
          assert(now.contains(col) && !now.contains("stale_a"),
            s"${root + sub} still reads a pre-build schema: $now")
        }
      }
    }
  }

  test("invalidate matches keys across file:, file:// and other-scheme qualification") {
    withTempDir { dir =>
      val s = spark
      import s.implicits._
      val keys = Seq(dir, s"file:$dir", s"file://$dir", s"$dir/")
      Seq((1, 2)).toDF("a", "b").write.parquet(dir + "/t")
      keys.foreach(k => assert(columns(k + "/t") == Set("a", "b")))
      Seq((1, 2)).toDF("c", "d").write.mode("overwrite").parquet(dir + "/t")
      // a listing-qualified form of the parent drops every spelling
      ParquetIO.invalidate(s"file://$dir")
      keys.foreach(k => assert(columns(k + "/t") == Set("c", "d"), k))
    }
    val idx = "hdfs://nn:8020/w/idx"
    for (key <- Seq("/w/idx", "/w/idx/", "/w/idx/part=1", idx, s"$idx/cells"))
      assert(ParquetIO.covers(idx, key), key)
    for (key <- Seq("file:/w/idx", "s3a://b/w/idx", "hdfs://other:8020/w/idx", s"${idx}2"))
      assert(!ParquetIO.covers(idx, key), key)
    assert(ParquetIO.covers("file:/w/idx", "file:///w/idx/part=1"))
    assert(ParquetIO.covers("/w/idx", s"$idx/cells"))
    assert(!ParquetIO.covers("/w/idx/cells", "/w/idx"))
  }
}

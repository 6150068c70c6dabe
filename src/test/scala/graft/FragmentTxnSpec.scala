package graft

import org.apache.spark.sql.functions._

import graft.operators.{FragmentEngine, FragmentTxn}

/** The atomic-dual-write journal ([[graft.operators.FragmentTxn]]): a writer
  * crashing BETWEEN the master swap and the fragment swaps — the one
  * documented window in every copy-on-write mutation — must leave a
  * published journal that the next engine operation rolls FORWARD, so
  * engine readers see the mutation fully applied (never the mixed middle),
  * and the crashed writer's staging directories and journal are reclaimed.
  */
class FragmentTxnSpec extends SparkSpec {

  private def newEngine(): (FragmentEngine, String) = {
    val root = java.nio.file.Files.createTempDirectory("graft-txn").toString
    val e = new FragmentEngine(spark, root)
    e.loadRatings("ratings", RatingsFixture.path)
    e.rangePartition("ratings", 5)
    e.roundRobinPartition("ratings", 5)
    (e, root)
  }

  private def journals(root: String): Seq[String] = {
    val dir = new java.io.File(s"$root/_txn")
    if (!dir.isDirectory) Nil
    else dir.listFiles().map(_.getName).filter(_.endsWith(".log")).toSeq
  }

  private def stagingDirs(root: String): Seq[String] =
    new java.io.File(root).listFiles().map(_.getName)
      .filter(_.contains(".staging-")).toSeq

  test("a crash between master and fragment swap rolls forward on the next engine read") {
    val (e, root) = newEngine()
    val masterBefore = e.master("ratings").count()
    val nHit = e.rangeFragments().filter(col("rating") === 4.5).count()
    assert(nHit > 0, "fixture must contain 4.5 ratings")

    // inject the crash AFTER the first journal op (the master swap): the
    // exact half-applied state the round-15 audit documented
    FragmentTxn.crashAfterOps = 1
    try {
      intercept[FragmentTxn.InjectedCrash] {
        e.deleteWhereStrict(FragmentEngine.RangeDataset, "ratings", col("rating") === 4.5)
      }
    } finally FragmentTxn.crashAfterOps = -1

    // the on-disk state IS mixed right now (raw reads, no engine):
    // master already swapped, the routed fragment still carries the rows
    assert(spark.read.parquet(s"$root/ratings").filter(col("rating") === 4.5).count() == 0,
      "master swap already applied")
    assert(spark.read.parquet(s"$root/range_ratings")
      .filter(col("rating") === 4.5).count() == nHit,
      "fragment swap not yet applied — the crash window")
    assert(journals(root).size == 1, "the plan is published")
    assert(stagingDirs(root).nonEmpty, "crashed writer's staging is still on disk")

    // within the grace window the claim is presumed live: engine reads do
    // NOT steal it (a live writer mid-apply must not be raced)...
    assert(e.master("ratings").count() == masterBefore - nHit)
    assert(journals(root).size == 1, "journal survives inside the grace window")

    // ...past the grace the first engine operation rolls the plan forward:
    // both directories now agree (the NEW state), never the mixed middle
    spark.conf.set(FragmentTxn.GraceConfKey, "0")
    try {
      val frags = e.rangeFragments()
      assert(frags.filter(col("rating") === 4.5).count() == 0, "fragment side applied")
      assert(e.master("ratings").count() == masterBefore - nHit)
      // reconstruction invariant: fragments union == master's in-domain rows
      assert(frags.count() == e.master("ratings").count())
      // the dead claim's journal and the staging dirs are reclaimed
      assert(journals(root).isEmpty, "journal consumed by roll-forward")
      assert(stagingDirs(root).isEmpty, "staging reclaimed by roll-forward")
      // the other scheme was never part of the statement
      assert(spark.read.parquet(s"$root/round_robin_ratings")
        .filter(col("rating") === 4.5).count() == nHit)
      // and the warehouse is fully serviceable: the next mutation works
      val (matched, inserted) = {
        val s = spark
        import s.implicits._
        e.mergeIntoStrict(FragmentEngine.RangeDataset, "ratings",
          Seq((999, 888, 2.5)).toDF("userid", "movieid", "rating"))
      }
      assert(matched == 0 && inserted == 1)
      assert(e.rangeFragments().filter(col("userid") === 999).count() == 1)
    } finally spark.conf.unset(FragmentTxn.GraceConfKey)
  }

  test("a crash before any swap applies is equally rolled forward (nothing was lost)") {
    val (e, root) = newEngine()
    val masterBefore = e.master("ratings").count()
    val nHit = e.rangeFragments().filter(col("rating") === 2.0).count()
    assert(nHit > 0)
    FragmentTxn.crashAfterOps = 0
    try {
      intercept[FragmentTxn.InjectedCrash] {
        e.deleteWhereStrict(FragmentEngine.RangeDataset, "ratings", col("rating") === 2.0)
      }
    } finally FragmentTxn.crashAfterOps = -1
    // published but nothing applied: raw master still carries the rows
    assert(spark.read.parquet(s"$root/ratings").filter(col("rating") === 2.0).count() == nHit)
    spark.conf.set(FragmentTxn.GraceConfKey, "0")
    try {
      // the publish IS the commit point: roll-forward completes the delete
      assert(e.master("ratings").count() == masterBefore - nHit)
      assert(e.rangeFragments().filter(col("rating") === 2.0).count() == 0)
      assert(journals(root).isEmpty && stagingDirs(root).isEmpty)
    } finally spark.conf.unset(FragmentTxn.GraceConfKey)
  }

  test("two live writers: the second (stale-base) commit is rejected, the first intact") {
    val s = spark
    import s.implicits._
    val (e, root) = newEngine()
    val masterPath = s"$root/ratings"
    val dsPath = s"$root/${FragmentEngine.RangeDataset}"
    // writer 2 captures its base signature FIRST (stale by commit time)
    val staleSig = FragmentTxn.signature(spark, Seq(masterPath, dsPath))

    // writer 1 commits a real mutation in between
    val nHit = e.rangeFragments().filter(col("rating") === 4.5).count()
    assert(nHit > 0)
    val deleted = e.deleteWhereStrict(FragmentEngine.RangeDataset, "ratings",
      col("rating") === 4.5)
    assert(deleted == nHit)
    val masterAfterW1 = e.master("ratings").count()

    // writer 2 stages its own (now stale) rewrite and tries to commit
    val w2Staging = s"$root/.ratings.staging-test-w2"
    e.master("ratings").limit(1).write.parquet(w2Staging)
    val ex = intercept[FragmentTxn.ConcurrentWriteException] {
      FragmentTxn.run(spark, root,
        Seq(FragmentTxn.Op("swap", masterPath, w2Staging)),
        expect = Some(FragmentTxn.Expect(Seq(masterPath, dsPath), staleSig)))
    }
    assert(ex.getMessage.contains("concurrent write detected"))
    // writer 1's state is intact, writer 2's staging was swept
    assert(e.master("ratings").count() == masterAfterW1)
    assert(e.rangeFragments().filter(col("rating") === 4.5).count() == 0)
    assert(!new java.io.File(w2Staging).exists(), "rejected staging must be swept")
    assert(journals(root).isEmpty)

    // a LIVE writer claim blocks a second expect-carrying commit outright
    val claim = new java.io.File(s"$root/_txn/writer.claim")
    claim.getParentFile.mkdirs()
    assert(claim.createNewFile())
    val freshSig = FragmentTxn.signature(spark, Seq(masterPath, dsPath))
    e.master("ratings").limit(1).write.parquet(w2Staging)
    try {
      val ex2 = intercept[FragmentTxn.ConcurrentWriteException] {
        FragmentTxn.run(spark, root,
          Seq(FragmentTxn.Op("swap", masterPath, w2Staging)),
          expect = Some(FragmentTxn.Expect(Seq(masterPath, dsPath), freshSig)))
      }
      assert(ex2.getMessage.contains("holds the mutation claim"))
    } finally claim.delete()

    // and a fresh-signature, unclaimed commit goes through (retry works)
    val retrySig = FragmentTxn.signature(spark, Seq(masterPath, dsPath))
    assert(e.mergeIntoStrict(FragmentEngine.RangeDataset, "ratings",
      Seq((9001, 9001, 3.0)).toDF("userid", "movieid", "rating"))._2 == 1L)
    assert(FragmentTxn.signature(spark, Seq(masterPath, dsPath)) != retrySig,
      "a committed mutation must change the base signature")
  }
}

package graft.operators

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{RangeBuckets, RangeMeta, RoundRobinMeta}
import graft.catalog.FragmentCatalog
import graft.functions.QueryParam

import scala.util.control.NonFatal

/** Spark-native horizontal-fragmentation engine.
  *
  * Re-expresses the reference's 8-function API (reference `tester1.py:30-80`:
  * loadRatings, rangePartition, roundRobinPartition, rangeInsert,
  * roundRobinInsert, rangeQuery, pointQuery, deleteTables) Spark-first:
  *
  *   - N physical fragment *tables* become ONE parquet dataset per scheme,
  *     Hive-partitioned by a `part` column. Catalyst partition pruning then
  *     replaces the reference's hand-rolled `selectMode` fragment-pruning
  *     loop (reference `Interface1.py:273-290`) at the FileIndex level:
  *     a filter on `part` never lists, opens, or reads pruned fragments.
  *   - The reference's full-table `fetchall()` + O(n·rows) client-side bucket
  *     passes (reference `Interface1.py:115-139`) become a single narrow
  *     `withColumn("part", <bucket expr>)` projection — one distributed pass,
  *     no shuffle, no driver materialization; this is what survives a 100 TB
  *     input where the reference design cannot.
  *   - Round-robin determinism: the reference relies on PG heap insertion
  *     order; we materialize load order once as an explicit `_rowid` column
  *     (zipWithIndex at load) so `part = _rowid % n` is reproducible under
  *     any degree of read parallelism.
  *
  * Error style mirrors the reference (best-effort: catch, print, continue —
  * reference `Interface1.py:19-21` et al.) on the public API; `*DF` variants
  * throw, for tests and composition.
  */
final class FragmentEngine(val spark: SparkSession, val dataRoot: String) {
  import FragmentEngine._

  val catalog = new FragmentCatalog(dataRoot)
  QueryParam.install(spark)

  private def logErr(op: String)(e: Throwable): Unit = {
    System.err.println(s"[$op] Exception occurred: ${e.getMessage}")
    e.printStackTrace()
  }

  /** Roll forward any crashed mutation's published journal before touching
    * the warehouse (see [[FragmentTxn]]) — one existence probe when idle.
    * Every public read and every mutation funnels through this, so a
    * half-applied DELETE/UPDATE/MERGE is finished by the first subsequent
    * engine operation rather than ever being served or overwritten.
    */
  private def recoverPending(): Unit = FragmentTxn.recoverIfPending(spark, dataRoot)

  // ---- load ----------------------------------------------------------------

  /** Parse MovieLens `::`-delimited text (`userid::movieid::rating::timestamp`,
    * timestamp dropped — reference `Interface1.py:29-30`) into the master
    * dataset, recording load order as `_rowid`.
    *
    * Parsing runs on executors (vs the reference's one INSERT round-trip per
    * line, `Interface1.py:28-30`). zipWithIndex indexes rows by (split offset,
    * position-in-split), which equals file line order — stable and
    * deterministic regardless of parallelism.
    */
  def loadRatings(tableName: String, filePath: String): Unit =
    try {
      recoverPending()
      val rows = spark.sparkContext
        .textFile(filePath)
        .filter(_.nonEmpty)
        .zipWithIndex()
        .map { case (line, idx) =>
          val f = line.split("::")
          org.apache.spark.sql.Row(f(0).toInt, f(1).toInt, f(2).toDouble, idx)
        }
      val df = spark.createDataFrame(rows, masterSchema)
      withMb(df).write.mode(SaveMode.Overwrite)
        .partitionBy("mb").parquet(catalog.tablePath(tableName))
      // seed the insert counter (parquet metadata count — no data scan)
      catalog.writeNextRowId(tableName, master(tableName).count())
    } catch { case NonFatal(e) => logErr("loadRatings")(e) }

  def master(tableName: String = "ratings"): DataFrame = {
    recoverPending()
    // project the internal mb bucket column out (absent on legacy flat
    // masters) — the master CONTRACT is the 4-column schema either way
    spark.read.parquet(catalog.tablePath(tableName))
      .select("userid", "movieid", "rating", "_rowid")
  }

  /** Master-mirror bucket span: masters persist Hive-partitioned by
    * `mb = _rowid div span`, so a row-level mutation stages and swaps ONLY
    * the buckets holding a removed/updated/inserted `_rowid` — partition-
    * granular copy-on-write for the master, symmetric with the fragments
    * (previously every mutation rewrote the master WHOLE, a full-table
    * write for a 10-row UPDATE at any master size). Range-of-rowid
    * bucketing (not hash) keeps inserts append-only in the LAST bucket and
    * clusters a statement's fresh ids into few buckets. The layout is
    * internal — readers go through [[master]], which projects `mb` out.
    * Default 2²⁰ rows ≈ 24 MB buckets at this row width; override with
    * `spark.graft.masterBucketSpan` (tests use tiny spans).
    */
  private def masterBucketSpan: Long =
    spark.conf.getOption(FragmentEngine.MasterBucketSpanKey)
      .map(_.toLong).getOrElse(1L << 20)

  private def withMb(df: DataFrame): DataFrame =
    df.withColumn("mb", expr(s"_rowid div ${masterBucketSpan}L"))

  /** Legacy flat masters (written before bucketing, or handed in directly)
    * have no `mb=` directories; they migrate to the bucketed layout on
    * their first journaled mutation and stay flat for pure appends.
    */
  private def masterHasMbLayout(masterPath: String): Boolean = {
    val p = new Path(masterPath)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("mb="))
  }

  // ---- partitioning --------------------------------------------------------

  /** Range-fragment the master table into `n` fixed-width rating buckets over
    * the hard-coded domain [0.0, 5.0] (reference `Interface1.py:122-123`).
    *
    * One narrow pass: `withColumn("part", bucketExpr)` →
    * `write.partitionBy("part")`. The bucket expression is a chained
    * `when`/`otherwise` over bounds accumulated with the reference's exact
    * float arithmetic (see [[graft.RangeBuckets]]) so boundary ratings land
    * in the same fragment bit-for-bit. Rows outside the domain are dropped,
    * matching the reference (they match no bucket, so are never inserted).
    */
  def rangePartition(tableName: String, n: Int): Unit =
    try {
      recoverPending()
      require(n > 0, "numberofpartitions not an instance of int or <= 0")
      require(catalog.tableExists(tableName), s"$tableName table does not exist")
      val buckets = RangeBuckets(n, DomainMin, DomainMax)
      val df = master(tableName)
      df.withColumn("part", bucketExpr(buckets, col("rating")))
        .filter(col("part").isNotNull)
        .write
        .mode(SaveMode.Overwrite)
        .partitionBy("part")
        .parquet(catalog.tablePath(RangeDataset))
      catalog.writeRangeMeta(RangeMeta(n, DomainMin, DomainMax, buckets.interval))
    } catch { case NonFatal(e) => logErr("rangePartition")(e) }

  /** Round-robin fragment: row k (0-based load order) → fragment k mod n
    * (reference `Interface1.py:169-174`). Deterministic because `_rowid` is
    * explicit; Spark's own `repartition(n)` round-robin is NOT row-stable and
    * would not reproduce the reference's per-fragment contents.
    */
  def roundRobinPartition(tableName: String, n: Int): Unit =
    try {
      recoverPending()
      require(n > 0, "numberofpartitions not an instance of int or <= 0")
      require(catalog.tableExists(tableName), s"$tableName table does not exist")
      val df = master(tableName)
      df.withColumn("part", pmod(col("_rowid"), lit(n.toLong)).cast(IntegerType))
        .write
        .mode(SaveMode.Overwrite)
        .partitionBy("part")
        .parquet(catalog.tablePath(RoundRobinDataset))
      val count = master(tableName).count()
      val lastInserted = if (count == 0) -1L else (count - 1) % n
      catalog.writeRoundRobinMeta(RoundRobinMeta(n, lastInserted))
    } catch { case NonFatal(e) => logErr("roundRobinPartition")(e) }

  // ---- inserts (dual-write: master + routed fragment) -----------------------

  /** Insert into BOTH the master table and the single range fragment whose
    * interval contains `rating` (reference `Interface1.py:225-256`).
    * Routing is a driver-side bucket lookup (metadata is tiny); the appends
    * are partition-directory writes, so a routed insert touches exactly one
    * fragment directory — at cluster scale this is the same "write one
    * partition" pattern used for streaming upserts.
    */
  def rangeInsert(tableName: String, userid: Int, itemid: Int, rating: Double): Unit =
    try rangeInsertStrict(tableName, userid, itemid, rating)
    catch { case NonFatal(e) => logErr("rangeInsert")(e) }

  /** [[rangeInsert]] without the reference's error-swallowing contract —
    * the SQL write path ([[graft.catalog.GraftTableCatalog]] INSERT) must
    * FAIL the statement on a routing error, not log and return success.
    */
  private[graft] def rangeInsertStrict(
      tableName: String,
      userid: Int,
      itemid: Int,
      rating: Double
  ): Unit = {
    recoverPending()
    require(catalog.tableExists(tableName), s"$tableName table does not exist")
    val rowid = appendToMaster(tableName, userid, itemid, rating)
    val meta = catalog
      .readRangeMeta()
      .getOrElse(throw new IllegalStateException("RANGE_METADATA missing"))
    require(meta.totalPartitions > 0, "Total partitions <= 0")
    val buckets = RangeBuckets(meta.totalPartitions, meta.minValue, meta.maxValue)
    val b = buckets.bucketOf(rating)
    if (b >= 0) appendToFragment(RangeDataset, b, userid, itemid, rating, rowid)
  }

  /** Insert into master + fragment `(lastInserted+1) mod n`, then advance the
    * metadata counter (reference `Interface1.py:193-209`). The counter is
    * inherently serial driver-side state — kept as a cheap metadata update,
    * exactly like the reference's singleton UPDATE.
    */
  def roundRobinInsert(tableName: String, userid: Int, itemid: Int, rating: Double): Unit =
    try roundRobinInsertStrict(tableName, userid, itemid, rating)
    catch { case NonFatal(e) => logErr("roundRobinInsert")(e) }

  /** [[roundRobinInsert]] without error swallowing — see
    * [[rangeInsertStrict]].
    */
  private[graft] def roundRobinInsertStrict(
      tableName: String,
      userid: Int,
      itemid: Int,
      rating: Double
  ): Unit = {
    recoverPending()
    require(catalog.tableExists(tableName), s"$tableName table does not exist")
    val rowid = appendToMaster(tableName, userid, itemid, rating)
    val meta = catalog
      .readRoundRobinMeta()
      .getOrElse(throw new IllegalStateException("ROUND_ROBIN_METADATA missing"))
    require(meta.totalPartitions > 0, "Total partitions <= 0")
    val next = ((meta.lastInserted + 1) % meta.totalPartitions).toInt
    appendToFragment(RoundRobinDataset, next, userid, itemid, rating, rowid)
    catalog.writeRoundRobinMeta(meta.copy(lastInserted = next.toLong))
  }

  /** Validate-everything-then-append variant of the strict inserts, for
    * the SQL INSERT surface ([[graft.catalog.FragmentWritableTable]]): the
    * table-existence check, the metadata read and every row's routing
    * decision happen BEFORE any append, so a statement that fails
    * validation (missing metadata, zero partitions, absent table) lands
    * NOTHING — not a prefix of its rows. The remaining exposure is
    * filesystem append faults mid-loop, the same partial-append exposure
    * any non-transactional multi-file sink has; the round-robin counter is
    * advanced ONCE after all rows land, matching the sequential per-row
    * routing exactly.
    */
  private[graft] def rangeInsertAllStrict(
      tableName: String,
      rows: Seq[(Int, Int, Double)]
  ): Unit = {
    recoverPending()
    require(catalog.tableExists(tableName), s"$tableName table does not exist")
    val meta = catalog
      .readRangeMeta()
      .getOrElse(throw new IllegalStateException("RANGE_METADATA missing"))
    require(meta.totalPartitions > 0, "Total partitions <= 0")
    val buckets = RangeBuckets(meta.totalPartitions, meta.minValue, meta.maxValue)
    // every routing decision made before the first append
    val routed = rows.map { case (u, m, r) => (u, m, r, buckets.bucketOf(r)) }
    routed.foreach { case (u, m, r, b) =>
      val rowid = appendToMaster(tableName, u, m, r)
      if (b >= 0) appendToFragment(RangeDataset, b, u, m, r, rowid)
    }
  }

  /** See [[rangeInsertAllStrict]] — round-robin twin. */
  private[graft] def roundRobinInsertAllStrict(
      tableName: String,
      rows: Seq[(Int, Int, Double)]
  ): Unit = {
    recoverPending()
    require(catalog.tableExists(tableName), s"$tableName table does not exist")
    val meta = catalog
      .readRoundRobinMeta()
      .getOrElse(throw new IllegalStateException("ROUND_ROBIN_METADATA missing"))
    require(meta.totalPartitions > 0, "Total partitions <= 0")
    val n = meta.totalPartitions
    rows.zipWithIndex.foreach { case ((u, m, r), i) =>
      val rowid = appendToMaster(tableName, u, m, r)
      appendToFragment(
        RoundRobinDataset, ((meta.lastInserted + 1 + i) % n).toInt, u, m, r, rowid)
    }
    if (rows.nonEmpty)
      catalog.writeRoundRobinMeta(
        meta.copy(lastInserted = (meta.lastInserted + rows.size) % n))
  }

  /** Batch variant of roundRobinInsert for streaming ingestion (see
    * graft.streaming.StreamingOps.roundRobinRouter): appends a whole
    * micro-batch of (userid, movieid, rating) rows to master + fragments,
    * continuing the `lastInserted` counter as if the rows had been inserted
    * sequentially — one distributed write per batch instead of a metadata
    * round-trip per row.
    *
    * Within-batch order, which decides each row's fragment, comes from
    * `orderCols` when given (a global sort — deterministic for ANY batch
    * partitioning, the option to use when the batch arrives through a
    * shuffle). With `orderCols` empty the order is zipWithIndex over the
    * batch's existing partitions — deterministic exactly when the batch's
    * partition contents are (true for file-backed / single-partition
    * micro-batches, NOT for a freshly shuffled frame); both contracts are
    * specced in StreamingSpec.
    */
  def roundRobinInsertBatch(
      tableName: String,
      batch: DataFrame,
      orderCols: Seq[String] = Nil
  ): Unit =
    try {
      recoverPending()
      require(catalog.tableExists(tableName), s"$tableName table does not exist")
      val meta = catalog
        .readRoundRobinMeta()
        .getOrElse(throw new IllegalStateException("ROUND_ROBIN_METADATA missing"))
      require(meta.totalPartitions > 0, "Total partitions <= 0")
      val n = meta.totalPartitions
      val nextId = nextRowId(tableName)
      val src = if (orderCols.nonEmpty) batch.orderBy(orderCols.map(col): _*) else batch
      val rows = src
        .select(
          col("userid").cast(IntegerType),
          col("movieid").cast(IntegerType),
          col("rating").cast(DoubleType)
        )
        .rdd
        .zipWithIndex()
        .map { case (r, i) =>
          org.apache.spark.sql.Row(r.getInt(0), r.getInt(1), r.getDouble(2), nextId + i)
        }
      val df = spark.createDataFrame(rows, masterSchema)
      val cnt = df.count()
      if (cnt > 0) {
        appendMaster(tableName, df)
        df.withColumn("part", pmod(col("_rowid") + (meta.lastInserted + 1 - nextId), lit(n.toLong)).cast(IntegerType))
          .write
          .mode(SaveMode.Append)
          .partitionBy("part")
          .parquet(catalog.tablePath(RoundRobinDataset))
        catalog.writeRoundRobinMeta(
          meta.copy(lastInserted = ((meta.lastInserted + cnt) % n))
        )
        catalog.writeNextRowId(tableName, nextId + cnt)
      }
    } catch { case NonFatal(e) => logErr("roundRobinInsertBatch")(e) }

  /** Next load-order id from the persisted catalog counter. Datasets written
    * before the counter existed fall back to ONE `max(_rowid)` scan, whose
    * result is immediately persisted — after that every insert is O(1)
    * metadata, never a master-table scan.
    */
  private def nextRowId(tableName: String): Long =
    catalog.readNextRowId(tableName).getOrElse {
      master(tableName).agg(max("_rowid")).head().getAs[Any](0) match {
        case null    => 0L
        case l: Long => l + 1
      }
    }

  private def appendToMaster(tableName: String, u: Int, m: Int, r: Double): Long = {
    val nextId = nextRowId(tableName)
    val df = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(u, m, r, nextId)),
      masterSchema
    )
    appendMaster(tableName, df)
    catalog.writeNextRowId(tableName, nextId + 1)
    nextId
  }

  /** Append rows to the master, matching its on-disk layout: bucketed
    * (`mb=` dirs, mixed layouts break partition discovery) or legacy flat.
    */
  private def appendMaster(tableName: String, df: DataFrame): Unit = {
    val path = catalog.tablePath(tableName)
    if (masterHasMbLayout(path))
      withMb(df).write.mode(SaveMode.Append).partitionBy("mb").parquet(path)
    else df.write.mode(SaveMode.Append).parquet(path)
  }

  private def appendToFragment(
      dataset: String,
      part: Int,
      u: Int,
      m: Int,
      r: Double,
      rowid: Long
  ): Unit = {
    val df = spark
      .createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(u, m, r, rowid)),
        masterSchema
      )
      .withColumn("part", lit(part))
    df.write
      .mode(SaveMode.Append)
      .partitionBy("part")
      .parquet(catalog.tablePath(dataset))
  }

  // ---- queries ---------------------------------------------------------------
  //
  // Contract: `pointQuery`/`rangeQuery` each run exactly ONE Spark job of two
  // tasks, with no shuffle and no schema inference, and no code generation
  // after a session's first query: query values are bound by reference.
  //
  //   - Reads pin [[FragmentEngine.fragmentSchema]]. Every fragment writer
  //     produces that schema, so there is nothing to infer and no cache to
  //     invalidate: a read lists files and opens no footer.
  //   - Each side of a query (`*QueryDF`) is ONE partition, locally sorted:
  //     the range side by (part, rating, _rowid), the round-robin side by
  //     (part, _rowid). Results of pruned queries are driver-sized by
  //     contract (they are collected into one output file), so a
  //     single-task merge replaces a global `orderBy`, which would cost a
  //     sampling job, a shuffle-map job and a result job per side.
  //   - The golden sink collects both sides in one job of two tasks, one
  //     per side, which run in parallel. It joins the two sides' planned
  //     RDDs with `SparkContext.union`, which keeps its children's
  //     partitions in order: the range side's partition precedes the
  //     round-robin side's, so the range block precedes the round-robin
  //     block by partition order, not by scheduling luck. Each task formats
  //     its lines and returns them as one UTF-8 byte block; the driver
  //     writes the blocks and builds no `Row` or `String` per line. A query
  //     outside the rating domain has a range side the optimizer reduces to
  //     an empty relation of no partitions; it runs the one round-robin
  //     task.
  //   - A `Dataset.union` is not used: under Spark 4.1's
  //     `spark.sql.unionOutputPartitioning` (default true) a union of two
  //     single-partition children is itself one partition, so both sides
  //     would run one after the other in one task. The engine sets no
  //     session conf to change that.
  //   - The `rating` bounds are [[graft.functions.QueryParam]]s, not
  //     literals, so every point and range query has the same generated
  //     source per side: one compiled class, reused for every value. A
  //     point query is the `[v, v]` range query.
  //
  // The `*QueryDF` frames and the golden sink are the same frames; there is
  // no second path. Bulk extracts that must stay parallel do not go through
  // here: they read [[rangeFragments]] with a plain `rating` predicate
  // (pruned by [[graft.plans.DeriveFragmentPruning]]) or the `graft.*`
  // catalog tables, and write with a distributed writer.

  private def readFragments(dataset: String): DataFrame = {
    recoverPending()
    spark.read.schema(fragmentSchema).parquet(catalog.tablePath(dataset))
  }

  /** The range-fragmented dataset for ad-hoc querying and bulk extracts.
    * Publishes the bucket metadata to the session conf so
    * [[graft.plans.DeriveFragmentPruning]] can turn any `rating` predicate
    * into fragment-partition pruning — the caller gets selectMode-equivalent
    * pruning from a plain `.filter($"rating" ...)`, no engine API needed,
    * and keeps the scan's full read parallelism.
    */
  def rangeFragments(): DataFrame = {
    catalog.readRangeMeta().foreach { m =>
      graft.plans.DeriveFragmentPruning
        .publish(spark, "ref", "rating", m.totalPartitions, m.minValue, m.maxValue,
          new java.io.File(catalog.tablePath(RangeDataset)).getAbsolutePath)
    }
    readFragments(RangeDataset)
  }

  /** Range query `[qmin, qmax]` (inclusive both ends) as two single-partition
    * frames with columns `(tablename, userid, movieid, rating)`: the range
    * side (pruned to overlapping fragments, ordered by fragment, then rating,
    * ties in load order) and ALL round-robin fragments (fragment order, load
    * order within) — reference `Interface1.py:261-304`. Rows present in both
    * schemes appear twice, by design (SURVEY §2.4.2).
    *
    * Pruning: `part.isin(surviving)` on the Hive partition column becomes a
    * FileIndex partition filter — pruned fragments are never read, the
    * distributed analog of the reference's selectMode loop. The bounds are
    * bound by reference (see the section contract), so the rating predicate
    * no longer reaches parquet row-group statistics. That skipped little: a
    * round-robin fragment holds every rating, and within the surviving
    * range fragments only an edge fragment whose min/max misses the range
    * could be skipped. A fresh compile per new bound cost more.
    */
  def rangeQueryDF(qmin: Double, qmax: Double): (DataFrame, DataFrame) = {
    val buckets = queryBuckets()
    val rating = col("rating")
    val inRange = rating >= QueryParam.column(qmin) && rating <= QueryParam.column(qmax)
    val rangeSide = readFragments(RangeDataset)
      .filter(col("part").isin(buckets.bucketsOverlapping(qmin, qmax): _*))
      .filter(inRange)
    (rangeOrdered(rangeSide), roundRobinOrdered(readFragments(RoundRobinDataset).filter(inRange)))
  }

  /** Point query `rating = v` (reference `Interface1.py:310-343`) is the
    * `[v, v]` range query: `bucketsOverlapping(v, v)` is the one fragment
    * containing v (none when v is out of the domain), and under Spark's
    * double ordering `v <= rating <= v` is `rating = v`.
    */
  def pointQueryDF(v: Double): (DataFrame, DataFrame) = rangeQueryDF(v, v)

  /** Bucket layout of the range fragments; both schemes' metadata must
    * exist (a query reads both).
    */
  private def queryBuckets(): RangeBuckets = {
    val meta = catalog
      .readRangeMeta()
      .getOrElse(throw new IllegalStateException("RANGE_METADATA missing"))
    catalog
      .readRoundRobinMeta()
      .getOrElse(throw new IllegalStateException("ROUND_ROBIN_METADATA missing"))
    require(meta.totalPartitions > 0, "range partitions == 0")
    RangeBuckets(meta.totalPartitions, meta.minValue, meta.maxValue)
  }

  private def rangeOrdered(df: DataFrame): DataFrame =
    singleTaskMerge(df, RangePrefix, "part", "rating", "_rowid")

  private def roundRobinOrdered(df: DataFrame): DataFrame =
    singleTaskMerge(df, RoundRobinPrefix, "part", "_rowid")

  /** One partition, sorted locally by `keys`: a single task merges the
    * pruned fragments in order, with no exchange (see the section contract).
    */
  private def singleTaskMerge(df: DataFrame, prefix: String, keys: String*): DataFrame =
    df.coalesce(1)
      .sortWithinPartitions(keys.map(col): _*)
      .select(fragmentName(prefix), col("userid"), col("movieid"), col("rating"))

  /** Golden-format sink: CSV lines `fragmentname,userid,movieid,rating`, no
    * header, no trailing newline (reference `Interface1.py:300-304`), range
    * side first. One job of two tasks collects both sides (see the section
    * contract).
    */
  def rangeQuery(qmin: Double, qmax: Double, outputPath: String): Unit =
    try {
      val (rangeSide, rrSide) = rangeQueryDF(qmin, qmax)
      writeGolden(rangeSide, rrSide, outputPath)
    } catch { case NonFatal(e) => logErr("rangeQuery")(e) }

  def pointQuery(v: Double, outputPath: String): Unit =
    try {
      val (rangeSide, rrSide) = pointQueryDF(v)
      writeGolden(rangeSide, rrSide, outputPath)
    } catch { case NonFatal(e) => logErr("pointQuery")(e) }

  /** Writes both sides' golden lines in one job of two tasks (see the
    * section contract): the first task formats the range side, the second
    * the round-robin side, each into one byte block
    * ([[FragmentEngine.lineBlock]]). The non-empty blocks joined by `\n` are
    * the reference's `"\n".join(lines)`: no trailing newline, and no leading
    * one when the range side is empty.
    */
  private def writeGolden(rangeSide: DataFrame, rrSide: DataFrame, outputPath: String): Unit = {
    val sides = Seq(rangeSide, rrSide).map(goldenLines(_).queryExecution.toRdd)
    val blocks = spark.sparkContext.union(sides).mapPartitions(lineBlock).collect()
    val out = Files.newOutputStream(Paths.get(outputPath))
    try {
      blocks.filter(_.nonEmpty).zipWithIndex.foreach { case (block, i) =>
        if (i > 0) out.write('\n')
        out.write(block)
      }
    } finally out.close()
  }

  /** Line formatting runs in each side's task (codegen'd concat); only the
    * byte blocks are collected. Double → string via Spark's cast, which
    * matches the reference's Python `str(float)` for the rating domain
    * (e.g. `2.0`, `4.5`).
    */
  private def goldenLines(df: DataFrame): DataFrame =
    df.select(
      concat_ws(
        ",",
        col("tablename"),
        col("userid").cast(StringType),
        col("movieid").cast(StringType),
        col("rating").cast(StringType)
      ).as("line")
    )

  // ---- row-level deletes (the SQL DELETE surface) ---------------------------

  /** Delete every `dataset` row matching `cond`, plus the SAME rows from the
    * master table (mirrored by `_rowid`) — the dual-write invariant run in
    * reverse, so `DELETE FROM graft.range_ratings WHERE rating = 4.5`
    * removes each row from master AND exactly the fragment its rating
    * routed it to. Returns the number of fragment rows deleted.
    *
    * Copy-on-write at PARTITION granularity: only the fragment directories
    * that actually contain matches are rewritten (survivors staged, then
    * swapped in; a fragment whose rows are all deleted is removed outright),
    * so a one-fragment delete touches one directory no matter how many
    * fragments exist. The master mirror is equally partition-granular:
    * only the `mb=` row-id buckets holding a deleted `_rowid` are staged
    * and swapped ([[stageMasterCow]] — a small delete against a huge
    * master rewrites a bounded bucket set, not the whole table).
    * All reads complete before the first swap; the one crash
    * exposure is BETWEEN the master swap and the fragment swaps (master
    * already misses rows a fragment still carries) — the same
    * non-transactional multi-directory window as the dual-write insert,
    * documented rather than hidden.
    *
    * Scope notes, deliberate: deleting from one fragmentation scheme does
    * not touch the OTHER scheme's copies (symmetric with INSERT, which
    * dual-writes one scheme only), and master rows that never routed to a
    * fragment (out-of-domain ratings) are invisible to this surface.
    * Metadata stays intact: `_rowid`s are never reused and the round-robin
    * counter never moves on delete.
    */
  private[graft] def deleteWhereStrict(
      dataset: String,
      tableName: String,
      cond: Column
  ): Long = {
    recoverPending()
    require(catalog.tableExists(tableName), s"$tableName table does not exist")
    require(catalog.tableExists(dataset), s"$dataset dataset does not exist")
    val dsPath = catalog.tablePath(dataset)
    val masterPath = catalog.tablePath(tableName)
    // optimistic concurrency: the base signature at staging-read time is
    // re-verified under the writer claim at commit (FragmentTxn.run)
    val baseSig = FragmentTxn.signature(spark, Seq(masterPath, dsPath))
    val frags = readFragments(dataset)
    // SQL DELETE removes rows where the predicate is TRUE; null keeps
    val hit = coalesce(cond, lit(false))
    val matches = frags.filter(hit)
    // fragment-count-bounded (metadata-sized) — decides which dirs rewrite
    val affectedParts = matches.select("part").distinct().collect().map(_.getInt(0)).sorted
    if (affectedParts.isEmpty) return 0L
    val nDeleted = matches.count()
    val hfs = new Path(dsPath).getFileSystem(spark.sessionState.newHadoopConf())
    val stagingOf = stagingNamer("delete")
    // 1) stage master survivors of ONLY the affected mb buckets (anti-join
    //    on the deleted load ids)
    val masterStaging = stagingOf(masterPath)
    val masterOps = stageMasterCow(tableName, masterPath, masterStaging,
      removedIds = matches.select("_rowid"),
      replacements = spark.createDataFrame(
        java.util.List.of[org.apache.spark.sql.Row](), masterSchema),
      hfs = hfs)
    // 2) stage survivors of ONLY the affected fragment directories
    val fragStaging = stagingOf(dsPath)
    frags
      .filter(col("part").isin(affectedParts.toSeq: _*))
      .filter(!hit)
      .select(col("userid"), col("movieid"), col("rating"), col("_rowid"), col("part"))
      .write.mode(SaveMode.Overwrite).partitionBy("part").parquet(fragStaging.toString)
    // 3) commit — every read above has executed; the swap plan is published
    //    as one journal, so a crash mid-swap rolls FORWARD (FragmentTxn),
    //    never serving a master missing rows a fragment still carries
    FragmentTxn.run(spark, dataRoot, swapPlan(
      masterOps, dsPath, fragStaging, affectedParts.toSeq, hfs),
      expect = Some(FragmentTxn.Expect(Seq(masterPath, dsPath), baseSig)))
    nDeleted
  }

  /** Per-mutation unique staging names: roll-forward recovery consumes a
    * crashed mutation's staging dirs, but a crash INSIDE the grace window
    * must not have the next mutation overwrite directories a pending
    * journal still references.
    */
  private def stagingNamer(op: String): String => Path = {
    val id = java.util.UUID.randomUUID().toString.take(8)
    p => {
      val orig = new Path(p)
      new Path(orig.getParent, s".${orig.getName}.staging-$op-$id")
    }
  }

  /** Stage the post-mutation master copy-on-write and return its swap ops.
    *
    * Bucketed layout (every master [[loadRatings]] writes): only the `mb=`
    * buckets holding a removed, updated, or inserted `_rowid` are staged
    * and swapped — a small statement against a huge master touches a
    * bounded set of bucket directories, never the whole table. Legacy flat
    * layout: the whole master is staged BUCKETED and swapped whole — the
    * one-time migration that makes every later mutation partition-granular.
    *
    * @param removedIds   `_rowid` frame of old-master rows the statement
    *                     supersedes (anti-join key)
    * @param replacements the statement's new/updated rows (4-col schema)
    */
  private def stageMasterCow(
      tableName: String,
      masterPath: String,
      masterStaging: Path,
      removedIds: DataFrame,
      replacements: DataFrame,
      hfs: org.apache.hadoop.fs.FileSystem
  ): Seq[FragmentTxn.Op] = {
    val repl = replacements.select("userid", "movieid", "rating", "_rowid")
    if (!masterHasMbLayout(masterPath)) {
      withMb(
        master(tableName)
          .join(removedIds.select("_rowid"), Seq("_rowid"), "left_anti")
          .select("userid", "movieid", "rating", "_rowid")
          .unionByName(repl))
        .write.mode(SaveMode.Overwrite).partitionBy("mb").parquet(masterStaging.toString)
      Seq(FragmentTxn.Op("swap", masterPath, masterStaging.toString))
    } else {
      val span = masterBucketSpan
      // bucket set of every id the statement touches — metadata-sized
      // (bounded by statement size / span, not master size)
      val affectedMb = removedIds.select("_rowid")
        .unionByName(repl.select("_rowid"))
        .select(expr(s"_rowid div ${span}L").as("mb"))
        .distinct().collect().map(_.getLong(0)).sorted
      withMb(master(tableName))
        .filter(col("mb").isin(affectedMb.toSeq: _*))
        .join(removedIds.select("_rowid"), Seq("_rowid"), "left_anti")
        .select(col("userid"), col("movieid"), col("rating"), col("_rowid"), col("mb"))
        .unionByName(withMb(repl)
          .select(col("userid"), col("movieid"), col("rating"), col("_rowid"), col("mb")))
        .write.mode(SaveMode.Overwrite).partitionBy("mb").parquet(masterStaging.toString)
      affectedMb.map { b =>
        val orig = new Path(masterPath, s"mb=$b")
        val staged = new Path(masterStaging, s"mb=$b")
        // no staged dir = the bucket emptied: its directory goes away
        if (hfs.exists(staged)) FragmentTxn.Op("swap", orig.toString, staged.toString)
        else FragmentTxn.Op("delete", orig.toString)
      }.toSeq ++ Seq(
        FragmentTxn.Op("rmstaging", masterStaging.toString),
        FragmentTxn.Op("ensuremb", masterPath))
    }
  }

  /** The journaled swap plan shared by the partition-granular mutations:
    * the (already partition-granular) master ops, then per affected
    * fragment a swap (staged survivors) or a delete (fragment emptied),
    * then staging cleanup and the emptied-dataset schema seed.
    */
  private def swapPlan(
      masterOps: Seq[FragmentTxn.Op],
      dsPath: String,
      fragStaging: Path,
      affectedParts: Seq[Int],
      hfs: org.apache.hadoop.fs.FileSystem
  ): Seq[FragmentTxn.Op] =
    masterOps ++
      affectedParts.map { p =>
        val orig = new Path(dsPath, s"part=$p")
        val staged = new Path(fragStaging, s"part=$p")
        // no staged dir = every row of this fragment deleted: dir stays gone
        if (hfs.exists(staged)) FragmentTxn.Op("swap", orig.toString, staged.toString)
        else FragmentTxn.Op("delete", orig.toString)
      } ++ Seq(
        FragmentTxn.Op("rmstaging", fragStaging.toString),
        FragmentTxn.Op("ensure", dsPath))

  /** Distributed MERGE into a fragment dataset — the BULK path the SQL
    * surface's VALUES-sized cap points at: `source` rows (userid, movieid,
    * rating) update the rating of every (userid, movieid)-matched dataset
    * row and insert the unmatched ones, entirely as DataFrame jobs — no
    * row ever rides the driver, so a million-row merge is three joins and
    * a couple of partition-directory writes.
    *
    * Semantics are EXACTLY the SQL `MERGE INTO … WHEN MATCHED THEN UPDATE
    * SET rating WHEN NOT MATCHED THEN INSERT` shape: matched range rows
    * RE-ROUTE to the fragment their new rating selects (out-of-domain →
    * master-only), round-robin rows keep their positional fragment,
    * inserts get fresh load ids in deterministic (userid, movieid, rating)
    * order and route like inserts (range by rating; round-robin advancing
    * the counter). Source keys must be unique — a multi-match merge is
    * ambiguous, the same rule Spark enforces on MERGE INTO.
    *
    * Copy-on-write at PARTITION granularity: only fragment directories
    * that lose, gain, or change a row are rewritten (old fragment of every
    * matched row ∪ routed fragment of every changed/inserted row — a
    * fragment-count-bounded set); the master is bucketed by row-id range
    * and only the buckets holding a matched or inserted `_rowid` are
    * staged and swapped ([[stageMasterCow]]). Returns (matched, inserted)
    * counts.
    */
  def mergeIntoStrict(
      dataset: String,
      tableName: String,
      source: DataFrame
  ): (Long, Long) = {
    recoverPending()
    require(catalog.tableExists(tableName), s"$tableName table does not exist")
    require(catalog.tableExists(dataset), s"$dataset dataset does not exist")
    val dsPath = catalog.tablePath(dataset)
    val masterPath = catalog.tablePath(tableName)
    // optimistic concurrency: verified under the writer claim at commit
    val baseSig = FragmentTxn.signature(spark, Seq(masterPath, dsPath))
    val src = source
      .select(
        col("userid").cast(IntegerType),
        col("movieid").cast(IntegerType),
        col("rating").cast(DoubleType))
      .localCheckpoint()
    require(
      src.count() == src.select("userid", "movieid").distinct().count(),
      "MERGE source keys (userid, movieid) must be unique — multi-match is ambiguous")

    val rangeBuckets =
      if (dataset == RangeDataset) {
        val m = catalog.readRangeMeta()
          .getOrElse(throw new IllegalStateException("RANGE_METADATA missing"))
        require(m.totalPartitions > 0, "Total partitions <= 0")
        Some(RangeBuckets(m.totalPartitions, m.minValue, m.maxValue))
      } else None
    val rrMeta =
      if (dataset == RoundRobinDataset)
        Some(catalog.readRoundRobinMeta()
          .getOrElse(throw new IllegalStateException("ROUND_ROBIN_METADATA missing")))
      else None
    rrMeta.foreach(m => require(m.totalPartitions > 0, "Total partitions <= 0"))
    def routed(r: Column): Column = rangeBuckets match {
      case Some(b) => bucketExpr(b, r)
      case None    => col("part")
    }

    // matched rows: new rating, range rows re-routed by it (old part kept
    // for the affected-directory set)
    val ds = readFragments(dataset)
    val joined = ds.join(
      src.select(col("userid"), col("movieid"), col("rating").as("_new_r")),
      Seq("userid", "movieid"), "left")
    val matched = joined
      .filter(col("_new_r").isNotNull)
      .select(col("userid"), col("movieid"), col("_new_r").as("rating"),
        col("_rowid"), col("part").as("_old_part"))
      .withColumn("_new_part", routed(col("rating")).cast(IntegerType))
      .localCheckpoint()
    val nMatched = matched.count()

    // inserts: unmatched source rows, fresh load ids in deterministic order
    val nextId = nextRowId(tableName)
    val insertRdd = src
      .join(ds.select("userid", "movieid").distinct(), Seq("userid", "movieid"), "left_anti")
      .orderBy("userid", "movieid", "rating")
      .rdd
      .zipWithIndex()
      .map { case (r, i) =>
        org.apache.spark.sql.Row(r.getInt(0), r.getInt(1), r.getDouble(2), nextId + i)
      }
    val inserts = spark.createDataFrame(insertRdd, masterSchema).localCheckpoint()
    val nInserted = inserts.count()
    val insertsRouted = (rangeBuckets, rrMeta) match {
      case (Some(b), _) =>
        inserts.withColumn("part", bucketExpr(b, col("rating")))
      case (_, Some(m)) =>
        inserts.withColumn("part",
          pmod(col("_rowid") + (m.lastInserted + 1 - nextId), lit(m.totalPartitions.toLong))
            .cast(IntegerType))
      case _ => inserts.withColumn("part", lit(null).cast(IntegerType))
    }

    // affected fragment dirs: fragment-count bounded, metadata-sized
    val affectedParts = matched.select(col("_old_part").as("p"))
      .unionByName(matched.select(col("_new_part").as("p")))
      .unionByName(insertsRouted.select(col("part").as("p")))
      .filter(col("p").isNotNull)
      .distinct().collect().map(_.getInt(0)).sorted
    if (nMatched == 0 && nInserted == 0) return (0L, 0L)

    val stagingOf = stagingNamer("merge")
    val hfs = new Path(dsPath).getFileSystem(spark.sessionState.newHadoopConf())
    // 1) stage the new master content of ONLY the affected mb buckets:
    //    matched mirrors replaced by _rowid, inserts appended, every other
    //    bucket untouched on disk
    val masterStaging = stagingOf(masterPath)
    val masterOps = stageMasterCow(tableName, masterPath, masterStaging,
      removedIds = matched.select("_rowid"),
      replacements = matched.select("userid", "movieid", "rating", "_rowid")
        .unionByName(inserts.select("userid", "movieid", "rating", "_rowid")),
      hfs = hfs)
    // 2) stage the new content of ONLY the affected fragment directories:
    //    untouched survivors + re-routed matches + routed inserts
    val fragStaging = stagingOf(dsPath)
    val affectedCol = affectedParts.toSeq
    ds
      .join(matched.select("_rowid"), Seq("_rowid"), "left_anti")
      .filter(col("part").isin(affectedCol: _*))
      .select("userid", "movieid", "rating", "_rowid", "part")
      .unionByName(matched
        .filter(col("_new_part").isNotNull)
        .select(col("userid"), col("movieid"), col("rating"), col("_rowid"),
          col("_new_part").as("part")))
      .unionByName(insertsRouted
        .filter(col("part").isNotNull)
        .select("userid", "movieid", "rating", "_rowid", "part"))
      .write.mode(SaveMode.Overwrite).partitionBy("part").parquet(fragStaging.toString)
    // 3) commit — reads done; the swap plan publishes as one journal so a
    //    crash mid-swap rolls forward (FragmentTxn), never a mixed state
    FragmentTxn.run(spark, dataRoot, swapPlan(
      masterOps, dsPath, fragStaging, affectedParts.toSeq, hfs),
      expect = Some(FragmentTxn.Expect(Seq(masterPath, dsPath), baseSig)))
    // 4) counters
    if (nInserted > 0) {
      catalog.writeNextRowId(tableName, nextId + nInserted)
      rrMeta.foreach { m =>
        catalog.writeRoundRobinMeta(m.copy(
          lastInserted = (m.lastInserted + nInserted) % m.totalPartitions))
      }
    }
    (nMatched, nInserted)
  }

  /** Replace the ENTIRE fragment dataset with the `rewrite` stream — the
    * commit target of the SQL UPDATE / MERGE surface
    * ([[graft.catalog.FragmentWritableTable]] group-based copy-on-write,
    * where the one replacement group is the whole dataset because the scan
    * is deliberately un-pushed so every row flows through the statement).
    * FULLY DISTRIBUTED: the stream arrives as a DataFrame over the
    * executors' staged spill files, every validation and routing decision
    * is a join or a narrow projection, and the driver only publishes the
    * journaled directory swap and advances counters — so the SQL surface
    * rewrites a dataset of any size (the former VALUES-sized per-task cap
    * applies to INSERT only). Dual-write semantics run in both directions:
    *
    *   - rows carrying a `_rowid` are EXISTING rows (possibly updated):
    *     their master mirror is replaced by id, and for the range dataset
    *     the fragment is RE-ROUTED from the (possibly new) rating — an
    *     UPDATE that moves a rating across a boundary moves the row to the
    *     fragment the boundary rule selects, and an update to an
    *     out-of-domain rating leaves the row master-only (exactly
    *     rangeInsert's contract). Round-robin rows keep their positional
    *     fragment — RR routing is insertion-order, not value, semantics.
    *   - rows with a NULL `_rowid` are MERGE-inserted: they get fresh load
    *     ids (in deterministic (userid, movieid, rating) order) and route
    *     like inserts — range by rating, round-robin by advancing the
    *     counter.
    *   - dataset rows ABSENT from the stream were deleted by the statement:
    *     their master mirrors go with them (the old dataset ids are
    *     superseded wholesale).
    *
    * Rejected before anything lands (one validation aggregate over a join
    * against the old dataset): a non-null `_rowid` that is not an existing
    * dataset row id (`UPDATE … SET _rowid` would corrupt the master
    * mirror), and an existing row whose `part` differs from its original
    * fragment (`UPDATE … SET part` — fragment placement is engine-derived:
    * recomputed from the rating on range datasets, positional on
    * round-robin, never assignable). Master rows that never routed to a
    * fragment (out-of-domain ratings) are invisible to the statement and
    * survive untouched.
    */
  private[graft] def replaceDatasetDistributed(
      dataset: String,
      tableName: String,
      rewrite0: DataFrame
  ): Unit = {
    recoverPending()
    require(catalog.tableExists(tableName), s"$tableName table does not exist")
    require(catalog.tableExists(dataset), s"$dataset dataset does not exist")
    val dsPath = catalog.tablePath(dataset)
    val masterPath = catalog.tablePath(tableName)
    // optimistic concurrency: this signature covers everything the swap
    // plan below is DERIVED from (the master anti-join and the validation
    // join both read the state as of here). The SQL statement's own scan
    // ran earlier; a writer that committed in between is caught by the
    // identity/placement validation (its rows supersede the scanned ids)
    // or by this check when it touched the same directories.
    val baseSig = FragmentTxn.signature(spark, Seq(masterPath, dsPath))
    // ONE materialization of the rewrite stream; every later job re-reads
    // the checkpoint, not the executors' staged spill files
    val rewrite = rewrite0
      .select(
        col("userid").cast(IntegerType),
        col("movieid").cast(IntegerType),
        col("rating").cast(DoubleType),
        col("_rowid").cast(LongType),
        col("part").cast(IntegerType))
      .localCheckpoint()
    val existing = rewrite.filter(col("_rowid").isNotNull)
    val inserts = rewrite.filter(col("_rowid").isNull)

    // metadata reads (validate-everything-before-anything-lands)
    val rrMeta =
      if (dataset == RoundRobinDataset)
        Some(catalog.readRoundRobinMeta()
          .getOrElse(throw new IllegalStateException("ROUND_ROBIN_METADATA missing")))
      else None
    val rangeBuckets =
      if (dataset == RangeDataset) {
        val m = catalog.readRangeMeta()
          .getOrElse(throw new IllegalStateException("RANGE_METADATA missing"))
        require(m.totalPartitions > 0, "Total partitions <= 0")
        Some(RangeBuckets(m.totalPartitions, m.minValue, m.maxValue))
      } else None
    rrMeta.foreach(m => require(m.totalPartitions > 0, "Total partitions <= 0"))

    // identity + placement validation, ONE aggregate over one join: every
    // kept _rowid must be an old dataset row, carrying its ORIGINAL part
    val ds = readFragments(dataset)
    val checks = existing
      .join(ds.select(col("_rowid"), col("part").as("_old_part")), Seq("_rowid"), "left")
      .agg(
        sum(when(col("_old_part").isNull, 1L).otherwise(0L)).as("phantom"),
        sum(when(!(col("part") <=> col("_old_part")), 1L).otherwise(0L)).as("moved"))
      .head()
    val phantom = Option(checks.get(0)).fold(0L)(_.asInstanceOf[Long])
    val moved = Option(checks.get(1)).fold(0L)(_.asInstanceOf[Long])
    require(phantom == 0L,
      s"$phantom replacement row(s) carry a _rowid that is not in $dataset — " +
        "_rowid is engine-derived row identity and cannot be assigned")
    require(moved == 0L,
      s"$moved replacement row(s) carry a part that is not the row's " +
        s"fragment — part is engine-derived placement (recomputed from the " +
        "rating on range datasets, positional on round-robin) and cannot " +
        "be assigned")

    // inserts: fresh load ids in deterministic order, routed like inserts
    val nextId = nextRowId(tableName)
    val insertRdd = inserts
      .orderBy("userid", "movieid", "rating")
      .rdd
      .zipWithIndex()
      .map { case (r, i) =>
        org.apache.spark.sql.Row(r.getInt(0), r.getInt(1), r.getDouble(2), nextId + i)
      }
    val insertsDf = spark.createDataFrame(insertRdd, masterSchema).localCheckpoint()
    val nInserted = insertsDf.count()
    val insertsRouted = (rangeBuckets, rrMeta) match {
      case (Some(b), _) =>
        insertsDf.withColumn("part", bucketExpr(b, col("rating")))
      case (_, Some(m)) =>
        insertsDf.withColumn("part",
          pmod(col("_rowid") + (m.lastInserted + 1 - nextId), lit(m.totalPartitions.toLong))
            .cast(IntegerType))
      case _ => insertsDf.withColumn("part", lit(null).cast(IntegerType))
    }
    // existing rows: range re-routes from the (possibly updated) rating;
    // round-robin keeps the validated positional part
    val existingRouted = rangeBuckets match {
      case Some(b) => existing.withColumn("part", bucketExpr(b, col("rating")))
      case None => existing
    }
    val newContent = existingRouted
      .select("userid", "movieid", "rating", "_rowid", "part")
      .unionByName(insertsRouted.select("userid", "movieid", "rating", "_rowid", "part"))

    val stagingOf = stagingNamer("replace")
    // 1) stage the new master content of the affected mb buckets:
    //    unfragmented rows survive as-is, everything the old dataset
    //    mirrored is superseded by the replacement rows
    val masterStaging = stagingOf(masterPath)
    val hfs = new Path(dsPath).getFileSystem(spark.sessionState.newHadoopConf())
    val masterOps = stageMasterCow(tableName, masterPath, masterStaging,
      removedIds = ds.select("_rowid"),
      replacements = newContent.select("userid", "movieid", "rating", "_rowid"),
      hfs = hfs)
    // 2) stage the new dataset content (fragment-routed rows only)
    val fragStaging = stagingOf(dsPath)
    newContent
      .filter(col("part").isNotNull)
      .write.mode(SaveMode.Overwrite).partitionBy("part").parquet(fragStaging.toString)
    // 3) commit — every read above has executed; the whole-dataset swap
    //    publishes as one journal (crash mid-swap rolls forward), and the
    //    emptied-dataset schema seed keeps a rewrite that routed zero rows
    //    (every row moved out-of-domain, or a row-level DELETE matched all)
    //    readable for every subsequent read and DML
    FragmentTxn.run(spark, dataRoot, masterOps ++ Seq(
      FragmentTxn.Op("swap", dsPath, fragStaging.toString),
      FragmentTxn.Op("ensure", dsPath)),
      expect = Some(FragmentTxn.Expect(Seq(masterPath, dsPath), baseSig)))
    // 4) counters: fresh ids consumed, round-robin advanced by the inserts
    if (nInserted > 0) {
      catalog.writeNextRowId(tableName, nextId + nInserted)
      rrMeta.foreach { m =>
        catalog.writeRoundRobinMeta(m.copy(
          lastInserted = (m.lastInserted + nInserted) % m.totalPartitions))
      }
    }
  }

  // ---- DDL -------------------------------------------------------------------

  /** Drop one dataset, or everything when `name == "ALL"` (reference
    * `Interface1.py:372-393`).
    */
  def deleteTables(name: String): Unit =
    try {
      recoverPending()
      if (name.equalsIgnoreCase("ALL")) catalog.dropAll()
      else catalog.dropTable(name)
    } catch { case NonFatal(e) => logErr("deleteTables")(e) }
}

object FragmentEngine {

  /** Reference constants `Interface1.py:6-7`. */
  val RangePrefix = "range_ratings_part"
  val RoundRobinPrefix = "round_robin_ratings_part"
  val RangeDataset = "range_ratings"
  val RoundRobinDataset = "round_robin_ratings"
  /** Hard-coded rating domain (reference `Interface1.py:122-123`). */
  val DomainMin = 0.0
  val DomainMax = 5.0

  /** Conf key overriding the master-mirror bucket span (rows per `mb=`
    * bucket, default 2²⁰) — see [[FragmentEngine.master]]'s layout notes.
    */
  val MasterBucketSpanKey = "spark.graft.masterBucketSpan"

  val masterSchema: StructType = StructType(
    Seq(
      StructField("userid", IntegerType, nullable = false),
      StructField("movieid", IntegerType, nullable = false),
      StructField("rating", DoubleType, nullable = false),
      StructField("_rowid", LongType, nullable = false)
    )
  )

  /** Read schema of both fragment datasets: the master columns plus the
    * `part` directory column. Every fragment writer produces exactly this
    * (file columns are nullable on read, as inference would report them),
    * so reads pin it instead of inferring it from parquet footers.
    */
  val fragmentSchema: StructType = StructType(
    masterSchema.fields.map(_.copy(nullable = true)) :+ StructField("part", IntegerType))

  /** Chained when/otherwise over the reference's accumulated bucket bounds —
    * codegen-friendly, no UDF; `null` when outside the domain. Kept as
    * explicit bounds (not `floor(rating/inc)`) so float boundary behavior is
    * bit-identical to the reference loop (SURVEY §7.4.1).
    */
  def bucketExpr(buckets: RangeBuckets, rating: Column): Column = {
    val first = when(
      rating >= buckets.bounds(0)._1 && rating <= buckets.bounds(0)._2,
      lit(0)
    )
    val chained = (1 until buckets.n).foldLeft(first) { (acc, i) =>
      val (lo, hi) = buckets.bounds(i)
      acc.when(rating > lo && rating <= hi, lit(i))
    }
    chained.otherwise(lit(null).cast(IntegerType))
  }

  /** One task's golden lines (a single string column) as one UTF-8 block,
    * joined by `\n` with none after the last; empty when the task has no
    * lines. Lives here so the task closure does not capture the engine.
    */
  private[operators] def lineBlock(rows: Iterator[InternalRow]): Iterator[Array[Byte]] = {
    val block = new ByteArrayOutputStream()
    var first = true
    rows.foreach { row =>
      if (!first) block.write('\n')
      row.getUTF8String(0).writeTo(block)
      first = false
    }
    Iterator.single(block.toByteArray)
  }

  private[operators] def fragmentName(prefix: String): Column =
    concat(lit(prefix), col("part").cast(StringType)).as("tablename")
}

package graft.operators

import java.util.concurrent.TimeoutException

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

import scala.concurrent.Await
import scala.concurrent.duration.{DurationInt, FiniteDuration}

/** Deduplication operators for a training-data pipeline: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. All are pure column-expression / join plans —
  * no UDFs, no driver-side loops — so they distribute and scale:
  *
  *   - exact dedup: one hash-shuffle on the content key (map-side partial agg
  *     makes the shuffle proportional to distinct keys, not rows);
  *   - MinHash LSH: explode shingles → codegen'd hash-aggregate of per-perm
  *     minima (partial aggregation collapses each doc's shingles map-side, so
  *     the shuffle carries one signature row per doc). Candidates come from
  *     an equi-join on band keys — never an all-pairs product;
  *   - SimHash: explode tokens → 64 codegen'd bit-sum aggregates → majority
  *     vote, one sketch row per doc through the shuffle;
  *   - n-gram Jaccard: shingle equi-join within candidate blocks — the
  *     |intersection| arrives as a join-group count, so no per-pair array
  *     materialization ever happens (the only formulation that survives
  *     100 TB corpora).
  *
  * Hash choice: md5 — deterministic and identical across engines, which lets
  * the DuckDB oracle verify signatures value-for-value. For a
  * throughput-critical production path swap `md5` for `xxhash64` (same plan
  * shape, cheaper hash); semantics are unchanged.
  */
object Dedup {

  /** Sentinel for `maxBandDf` meaning AUTO: the hot-band cap is derived
    * from corpus size as max(64, 16·⌈n^¼⌉), making the scale-safe path the
    * default. The ⁴√n shape keeps the worst single band's self-join output
    * ≤ cap² = Θ(√n) — sublinear in corpus size, so no one shuffle key can
    * ever dominate the job — while the 64 floor and the ×16 margin keep
    * every plausible GENUINE near-dup cluster (df ≈ tens) far under the
    * cap at any n. Recall loss stays the bounded, right-biased kind
    * documented on [[minhashCandidatePairs]]: only corpora whose clone
    * CLUSTERS are themselves Θ(⁴√n)-sized see drops, and exact-duplicate
    * mega-clusters are the exact hash-dedup operator's job, not LSH's.
    * Pass `Long.MaxValue` for the explicit exact mode (every band joins,
    * the uncapped oracle/bench baseline).
    */
  val AutoBandDf: Long = -1L

  /** Resolve a requested `maxBandDf` against the corpus size (`nDocs` is
    * only evaluated for [[AutoBandDf]]). */
  private def resolveBandCap(requested: Long, nDocs: => Long): Long =
    if (requested != AutoBandDf) requested
    else math.max(
      64L,
      16L * math.ceil(math.pow(math.max(nDocs, 0L).toDouble, 0.25)).toLong)

  /** Fan a narrow input out to the cluster's parallelism before expensive
    * per-document compute. A small corpus parquet arrives as one input split
    * (maxPartitionBytes), which would serialize the shingle/hash stages on a
    * single core; the round-robin shuffle of the projected columns is cheap
    * relative to the compute it unlocks. No-op when the source is already
    * wide (the 100 TB case — thousands of splits).
    */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** k-word shingles (default 3) over whitespace tokens; 1-based element_at
    * matches the SQL twin's 1-based list indexing.
    */
  def shingles(text: Column, k: Int = 3): Column =
    shinglesFromWords(TextAnalysis.tokens(text), k)

  /** Shingles over an ALREADY-MATERIALIZED words-array column.
    *
    * Performance contract: pass an attribute reference (a projected column),
    * not the split expression itself — the lambda references the array k+1
    * times and interpreted higher-order functions do no common-subexpression
    * elimination, so an inlined `split()` would be re-evaluated per element
    * (measured 8× slowdown on the bench corpus). Catalyst's CollapseProject
    * keeps multi-referenced aliases materialized, so a two-step
    * `select(tokens as w).select(shinglesFromWords(col(w)))` stays efficient.
    */
  def shinglesFromWords(ws: Column, k: Int = 3): Column =
    // guard: sequence(1, 0) would run DESCENDING in Spark, so short docs get
    // an explicit empty array (matches the SQL twin's range(1, 1) = [])
    when(
      size(ws) >= k,
      transform(
        sequence(lit(1), size(ws) - (k - 1)),
        i => concat_ws(" ", (0 until k).map(o => element_at(ws, i + o)): _*)
      )
    ).otherwise(array().cast("array<string>"))

  /** doc_id + MinHash signature (numPerm hash-minima) + LSH band keys.
    * Explode-then-aggregate: the min for every permutation is computed in one
    * codegen'd hash-agg pass over exploded shingles (vs interpreted
    * `array_min(transform(...))` per perm — ~30× on the bench corpus).
    *
    * `fast = false` (default) hashes with md5 — cross-engine deterministic,
    * which is what lets the DuckDB oracle verify signatures value-for-value.
    * ONE digest per shingle: perm j is hex slice [4j, 4j+4) of md5(shingle),
    * which caps the md5 path at numPerm <= 8 (enforced below) — 8× less
    * hashing than a digest per perm, which was the single most expensive
    * stage in the round-3 bench. The digest is materialized as a projected
    * column BEFORE the aggregate so the slices share it (aggregate
    * expressions get no cross-expression CSE).
    *
    * 16-bit-slice regime: each perm value is uniform on [0, 2^16), so over a
    * doc of S shingles the minimum concentrates near 65536/S. The slices stay
    * discriminating while typical docs have up to a few thousand shingles
    * (bench corpus: ~10^2); for corpora of much longer documents the band
    * keys of UNRELATED docs start colliding (min saturates toward 0) and the
    * candidate-pair count grows quadratically — there, use `fast = true`,
    * whose 64-bit per-perm hashes never saturate and which is the production
    * path anyway (md5 exists for cross-engine verification).
    * `fast = true` swaps in xxhash64 per perm (a 64-bit mix is ~free next to
    * a digest): identical plan shape and banding semantics, signature values
    * are longs instead of hex strings. Use it on production corpora; keep
    * md5 where external verification matters.
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numPerm: Int = 8,
      rowsPerBand: Int = 2,
      fast: Boolean = false
  ): DataFrame = {
    require(fast || numPerm * 4 <= 32, s"md5 path: numPerm <= 8 (got $numPerm)")
    val exploded = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_ws"))
      .select(col(idCol), explode_outer(shinglesFromWords(col("_ws"))).as("_sh"))
    val hashed =
      if (fast) exploded
      else exploded.select(col(idCol), md5(col("_sh")).as("_h"))
    val minExprs = (0 until numPerm).map { j =>
      val h =
        if (fast) xxhash64(lit(j), col("_sh"))
        else substring(col("_h"), j * 4 + 1, 4)
      min(h).as(s"m$j")
    }
    val sig = hashed
      .groupBy(col(idCol))
      .agg(minExprs.head, minExprs.tail: _*)
    val bandCols = (0 until numPerm / rowsPerBand).map { b =>
      val grp = (0 until rowsPerBand).map(r => col(s"m${b * rowsPerBand + r}"))
      val h = if (fast) xxhash64(grp: _*) else md5(concat_ws("|", grp: _*))
      h.as(s"band$b")
    }
    sig.select(col(idCol) +: (0 until numPerm).map(i => col(s"m$i")) ++: bandCols: _*)
  }

  /** Candidate pairs: equi-join per band (shuffle on the band key — scales to
    * any corpus because only same-bucket docs meet), deduplicated across bands.
    *
    * `maxBandDf` is the hot-band skew guard (same contract as the
    * incremental index join below): a band shared by d documents fans the
    * self-join into C(d,2) output rows on ONE shuffle key, so a single
    * boilerplate band at web scale (d ~ 10⁶) is a 10¹²-row join output —
    * the textbook skewed-key scale-killer. Bands with document frequency
    * > maxBandDf are dropped BEFORE the join (one band-keyed partial agg;
    * the hot set is a handful of keys, broadcast into an anti-join). Recall
    * loss is bounded and biased the right way: a pair is missed only if
    * EVERY band the two docs share is corpus-hot — genuine near-dups
    * virtually always share a non-hot band. Default [[AutoBandDf]]: the
    * cap derives from corpus size (max(64, 16·⌈n^¼⌉)) so the scale-safe
    * path is the default path; `Long.MaxValue` = exact mode (every band
    * joins — the uncapped baseline).
    */
  def minhashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numPerm: Int = 8,
      rowsPerBand: Int = 2,
      fast: Boolean = false,
      maxBandDf: Long = AutoBandDf
  ): DataFrame = {
    // localCheckpoint before the self-join: without it each aliased side
    // re-runs the whole signature pipeline (shingle explode → digest →
    // min-aggregates) — ReuseExchange does not fire across the branches.
    // One row per doc (id + band keys): negligible to materialize.
    val sigs = minhashSignatures(df, idCol, textCol, numPerm, rowsPerBand, fast)
      .localCheckpoint()
    val nBands = numPerm / rowsPerBand
    val exploded = sigs.select(
      col(idCol).as("id"),
      explode(array((0 until nBands).map(b => col(s"band$b")): _*)).as("band")
    )
    // one row per doc in the checkpointed signature table — the cheap,
    // exact n the auto cap derives from
    val cap = resolveBandCap(maxBandDf, sigs.count())
    val joinable =
      if (cap == Long.MaxValue) exploded
      else {
        // the hot set is a handful of keys BY CONSTRUCTION of the cap, so
        // collect it once and filter — a broadcast anti-join here would
        // re-run the df aggregate under BOTH sides of the self-join below
        val hot = exploded
          .groupBy("band")
          .agg(count(lit(1)).as("_df"))
          .filter(col("_df") > cap)
          .select("band")
          .limit(10001)
          .collect()
          .map(_.get(0))
        // no silent caps: an auto-capped run must be distinguishable from an
        // exact one — a dropped hot band bounds a clone cluster larger than
        // the cap at its other (non-hot) bands' recall
        if (hot.nonEmpty)
          System.err.println(
            s"[dedup] LSH hot-band cap (df > $cap) dropped " +
              (if (hot.length > 10000) ">10000" else hot.length.toString) +
              " band key(s) before the self-join; pairs inside clusters " +
              "hotter than the cap in EVERY shared band are not candidates " +
              "(pass maxBandDf = Long.MaxValue for exact banding)")
        if (hot.isEmpty) exploded
        else if (hot.length > 10000)
          // pathological corpus (everything hot): keep the join form
          exploded.join(
            broadcast(exploded.groupBy("band").agg(count(lit(1)).as("_df"))
              .filter(col("_df") > cap).select("band")),
            Seq("band"), "left_anti")
        else exploded.filter(!col("band").isin(hot.toIndexedSeq: _*))
      }
    val a = joinable.as("a")
    val b = joinable.as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** Estimated Jaccard similarity for an explicit pair list from MinHash
    * signature agreement — the unbiased estimator Ĵ = |{j : aⱼ = bⱼ}| /
    * numPerm that LSH banding implicitly thresholds; surfacing it gives the
    * downstream policy layer a graded score instead of a binary candidate
    * flag. The signatures join to the pair list by id (two equi-joins — the
    * pair side is the small LSH-candidate output, never the corpus
    * crossed with itself), the match count is an exact integer, and the
    * estimate is ONE correctly-rounded division — bit-identical
    * cross-engine.
    *
    * @param pairs (id1, id2) rows to score, e.g. [[minhashCandidatePairs]]
    *              output or an evaluation sample.
    */
  def minhashJaccardEstimate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      pairs: DataFrame,
      numPerm: Int = 8,
      rowsPerBand: Int = 2,
      fast: Boolean = false
  ): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, numPerm, rowsPerBand, fast)
    val perms = (0 until numPerm)
    val a = sigs.select(col(idCol).as("id1") +: perms.map(j => col(s"m$j").as(s"a$j")): _*)
    val b = sigs.select(col(idCol).as("id2") +: perms.map(j => col(s"m$j").as(s"b$j")): _*)
    val matches = perms
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs
      .select("id1", "id2")
      .join(a, "id1")
      .join(b, "id2")
      .select(
        col("id1"),
        col("id2"),
        matches.as("matching_perms"),
        (matches.cast("double") / lit(numPerm.toDouble)).as("jaccard_est")
      )
  }

  /** Exact dedup: group by content hash, keep the lowest id (one shuffle whose
    * width is the distinct-key count thanks to partial aggregation).
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("copies"))

  /** SimHash-64 as a 64-char bitstring, one row per id. Bit j comes from
    * nibble j/4 of each token's md5; per-bit majority over tokens. Explode →
    * 64 codegen'd conditional-sum aggregates → majority compare: the md5 is
    * computed once per token (not once per bit), and everything after the
    * explode is WholeStageCodegen.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = spread(df.select(col(idCol), col(textCol))).select(
      col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("_w")
    )
    // materialize the 16 nibble values once per token; the 64 bit sums then
    // reduce to shifts over these columns (vs re-running conv(substring(..))
    // inside every aggregate — 4× fewer string ops per token)
    val withNibbles = tok
      .withColumn("_h", md5(col("_w")))
      .select(
        col(idCol) +: (0 until 16).map(k =>
          conv(substring(col("_h"), k + 1, 1), 16, 10).cast("long").as(s"_nib$k")
        ): _*
      )
    // pack the 4 per-bit counters of each nibble into ONE long sum (16-bit
    // fields, safe to 32767 tokens/doc — the 2^48 field reaches the long
    // sign bit at 32768·2^48 = 2^63, where Spark 4's ANSI sum THROWS rather
    // than wraps, a loud failure, never a silent one; documents past ~32k
    // tokens should be chunked upstream, cf. Curation.chunkWithOverlap): 16
    // aggregate columns instead of 64 quarters the aggregation buffer and
    // the codegen'd update loop, same counts bit-for-bit after unpacking
    val packedSums = (0 until 16).map { k =>
      val nib = col(s"_nib$k")
      val packed = (shiftright(nib, 3).bitwiseAND(lit(1L)) * lit(281474976710656L)) + // 2^48
        (shiftright(nib, 2).bitwiseAND(lit(1L)) * lit(4294967296L)) + // 2^32
        (shiftright(nib, 1).bitwiseAND(lit(1L)) * lit(65536L)) + // 2^16
        nib.bitwiseAND(lit(1L))
      sum(packed).as(s"_p$k")
    }
    val agg = withNibbles
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("_n"), packedSums: _*)
    agg.select(
      col(idCol),
      concat(
        (0 until 64).map { j =>
          // bit j lives in nibble j/4, packed field (3 - j%4)
          val cnt = shiftright(col(s"_p${j / 4}"), 16 * (3 - j % 4)).bitwiseAND(lit(65535L))
          when(cnt * 2 >= col("_n"), lit("1")).otherwise(lit("0"))
        }: _*
      ).as("simhash")
    )
  }

  /** How long a CC round waits for its observed metric once the round's
    * checkpoint action has returned. The metric normally arrives within
    * milliseconds; a metric that never arrives must fail, not hang.
    */
  private val RoundMetricWait: FiniteDuration = 5.minutes

  /** The metrics `obs` observed, waiting at most `bound`; past it, fails
    * naming the CC round instead of blocking forever as `Observation.get`
    * does.
    */
  private[graft] def awaitRoundMetrics(obs: Observation, round: Int, bound: FiniteDuration): Map[String, Any] = {
    val row =
      try Await.result(obs.future, bound)
      catch {
        case _: TimeoutException =>
          throw new IllegalStateException(
            s"connectedComponents round $round: observed metrics not reported within $bound")
      }
    row.getValuesMap[Any](row.schema.fieldNames.toSeq)
  }

  /** A CC round's changed-label count, read from the metrics observed on
    * the round's checkpoint. The metric is never null (an empty label set
    * counts 0), so a missing or null value means the action did not report
    * it; that fails loudly instead of reading as convergence.
    */
  private[graft] def changedLabels(metrics: Map[String, Any], round: Int): Long =
    metrics.get("n_changed") match {
      case Some(n: Long) => n
      case other =>
        throw new IllegalStateException(
          s"connectedComponents round $round: observed metric n_changed is missing (got $other)")
    }

  /** Connected components over an undirected edge list — the cluster-resolution
    * stage of the dedup pipeline (near-dup PAIRS from [[minhashCandidatePairs]]
    * become one canonical cluster id per document).
    *
    * Algorithm: iterative min-label propagation. Every node starts labeled
    * with its own id; each round a node adopts the minimum label among itself
    * and its neighbors; the fixpoint labels each node with the smallest id in
    * its component. Each round is one equi-join + one hash aggregate — both
    * key-partitioned shuffles that scale to any corpus. Convergence is
    * detected with a changed-label count OBSERVED on the round's own
    * materializing action (`Dataset.observe` + the eager localCheckpoint):
    * labels only ever decrease, so zero strict decreases IS the fixpoint —
    * one job per round instead of the former checkpoint + separate
    * fingerprint-aggregate pair, and no data ever reaches the driver.
    *
    * Rounds needed = graph diameter. Near-dup clusters are dense (diameter
    * 2-3); `maxIter` bounds adversarial chains. Lineage is truncated every
    * round with `localCheckpoint` (an iterative plan otherwise grows a new
    * join+agg layer per round and analysis time explodes); on a multi-node
    * cluster prefer reliable `checkpoint()` with a checkpoint dir so a lost
    * executor cannot lose label blocks. For graphs whose diameter rivals
    * log(n) — not dedup graphs — the two-phase large-star/small-star variant
    * (Kiveris et al., "Connected Components in MapReduce") converges in
    * O(log n) rounds with the same per-round join+agg shape.
    *
    * @param edges two columns interpreted as (src, dst) node ids
    * @param nodes one column of node ids (isolated nodes keep their own id)
    * @return (id, comp) — comp is the min node id of the component
    */
  def connectedComponents(edges: DataFrame, nodes: DataFrame, maxIter: Int = 25): DataFrame = {
    val half = edges.toDF("s", "d")
    // hash-partitioned by the join side ONCE: localCheckpoint preserves the
    // physical partitioning, and every round's label join keys sym by `d`
    // against labels keyed by `id` (hash-partitioned by the previous
    // round's aggregate) — co-partitioned inputs, so the per-round join
    // needs NO exchange and each round pays exactly one shuffle (the
    // min-label aggregate)
    val sym = half.union(half.select(col("d"), col("s")))
      .repartition(col("d"))
      .localCheckpoint()
    // iterate ONLY over edge-touched nodes: in a dedup graph almost every
    // document is isolated, so propagating labels for the full corpus would
    // shuffle the whole node set every round for nothing. Isolated nodes are
    // their own component by definition and rejoin after the fixpoint.
    val allNodes = nodes.toDF("id")
    // NOT materialized: round 1 references the label init twice (join +
    // union), but both copies end in the identical distinct-exchange over
    // the checkpointed `sym`, which executes once (ReusedExchange) — so the
    // two checkpoint jobs this used to pay bought nothing. The final
    // isolated-node anti-join uses the FINAL checkpointed labels' id set
    // (identical to `touched` — rounds never add or drop ids).
    val touched = sym.select(col("s").as("id")).distinct()
    var labels = touched.select(col("id"), col("id").as("comp"))

    val compType = labels.schema("comp").dataType
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val msgs = sym
        .join(labels, sym("d") === labels("id"))
        .select(sym("s").as("id"), col("comp"))
      // the previous label rides along as `_old` (msgs contribute NULL, which
      // min() ignores; every id occurs exactly once in `labels`, so
      // min(_old) IS the old label) — the strict-decrease count is then a
      // metric on the checkpoint action itself, not a second job
      val obs = Observation(s"cc_changed_$iter")
      val updated = labels
        .select(col("id"), col("comp"), col("comp").as("_old"))
        .union(msgs.select(col("id"), col("comp"), lit(null).cast(compType).as("_old")))
        .groupBy(col("id"))
        .agg(min(col("comp")).as("comp"), min(col("_old")).as("_old"))
        .observe(obs, coalesce(sum(when(col("comp") < col("_old"), 1L).otherwise(0L)), lit(0L))
          .as("n_changed"))
        .select(col("id"), col("comp"))
        .localCheckpoint()
      labels.unpersist()
      // the checkpoint's own action reports the metric; the wait is bounded
      converged = changedLabels(awaitRoundMetrics(obs, iter, RoundMetricWait), iter) == 0L
      labels = updated
      iter += 1
    }
    // truncated propagation must not masquerade as a fixpoint: unconverged
    // labels are silently-wrong cluster ids downstream
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter rounds; " +
          "raise maxIter (rounds needed = component diameter)"
      )
    sym.unpersist()
    // singletons (nodes with no edge) keep their own id; left-anti keeps the
    // join narrow — the touched set is tiny relative to the corpus, and the
    // FINAL labels (checkpointed, id set identical to `touched`) supply it
    // without re-deriving the unpersisted edge frame
    val isolated = allNodes
      .join(labels.select(col("id")), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("comp"))
    labels.union(isolated)
  }

  /** Precision stage for LSH recall: verify candidate pairs with exact
    * normalized Levenshtein distance and keep pairs at or under `maxNorm`.
    * The edit distance runs only on LSH-candidate pairs (never all pairs) —
    * the join fetching both texts is two id equi-joins, and the distance is
    * a codegen'd built-in. The normalizer max(len) division is one exact
    * IEEE division, so the ratio is engine-deterministic unrounded. The
    * normalizer is floored at 1: two empty/whitespace-only texts DO become
    * LSH candidates (their band hashes collapse to the empty-concat digest),
    * and without the floor their 0/0 distance would be NULL and the pair —
    * an exact duplicate — silently dropped by the `<= maxNorm` filter.
    */
  def fuzzyPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxNorm: Double = 0.4,
      numPerm: Int = 8,
      rowsPerBand: Int = 2,
      fast: Boolean = false,
      maxBandDf: Long = AutoBandDf
  ): DataFrame = {
    val pairs =
      minhashCandidatePairs(df, idCol, textCol, numPerm, rowsPerBand, fast, maxBandDf)
    val texts = df.select(col(idCol), col(textCol))
    pairs
      .join(texts.select(col(idCol).as("id1"), col(textCol).as("_t1")), "id1")
      .join(texts.select(col(idCol).as("id2"), col(textCol).as("_t2")), "id2")
      .select(
        col("id1"),
        col("id2"),
        levenshtein(col("_t1"), col("_t2")).cast("bigint").as("edit_dist"),
        (levenshtein(col("_t1"), col("_t2")).cast("double") /
          greatest(length(col("_t1")), length(col("_t2")), lit(1))).as("norm_dist")
      )
      .filter(col("norm_dist") <= maxNorm)
  }

  /** b-bit MinHash similarity estimate with b = 1 (Li & König 2010): keep
    * only the LOWEST BIT of each permutation's min-hash — 1/32 the
    * signature storage of the 4-hex-char slices — and estimate Jaccard from
    * bit agreement, Ĵ = max(0, 2·A − 1) (a random unrelated pair agrees on
    * half its bits, so agreement is debiased at 0.5). The storage/accuracy
    * trade every web-scale dedup deployment prices out: variance per perm
    * roughly doubles vs full hashes, so b-bit runs with more perms for the
    * same precision at a fraction of the bytes. Bit = parity of the slice's
    * last hex digit — engine-replayable like every md5 derivation here.
    * Same two-equi-join shape as [[minhashJaccardEstimate]].
    */
  def oneBitMinhashEstimate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      pairs: DataFrame,
      numPerm: Int = 8,
      rowsPerBand: Int = 2
  ): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, numPerm, rowsPerBand)
    val perms = 0 until numPerm
    def bit(j: Int): Column =
      (conv(substring(col(s"m$j"), 4, 1), 16, 10).cast("long") % 2).cast("long")
    val a = sigs.select(col(idCol).as("id1") +: perms.map(j => bit(j).as(s"a$j")): _*)
    val b = sigs.select(col(idCol).as("id2") +: perms.map(j => bit(j).as(s"b$j")): _*)
    val agree = perms
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    pairs
      .select("id1", "id2")
      .join(a, "id1")
      .join(b, "id2")
      .select(
        col("id1"),
        col("id2"),
        agree.as("agree_bits"),
        round(
          greatest(
            lit(0.0),
            lit(2.0) * (agree.cast("double") / lit(numPerm.toDouble)) - lit(1.0)
          ),
          6
        ).as("jaccard_1bit")
      )
  }

  /** Canonical-first fuzzy verification — the linear-in-members alternative
    * to [[fuzzyPairs]]' linear-in-pairs Levenshtein stage. Within a d-clone
    * candidate cluster, pairwise verification runs C(d,2) edit distances;
    * verifying each member against the cluster CANONICAL (the component-min
    * id, the same label [[connectedComponents]] already converges to) runs
    * d−1 — the asymptotic difference between output-quadratic and linear on
    * clone-dense corpora. Semantics trade-off, stated: a member verifies
    * against the canonical only, so a chain a—b—c where only adjacent links
    * are close may reject c against canonical a even though [[fuzzyPairs]]
    * would keep the (b,c) link — acceptable for a keep-one-per-cluster
    * policy, which only needs member→canonical evidence. Output is one row
    * per NON-canonical candidate-cluster member that verifies:
    * (doc_id, canonical_id, edit_dist, norm_dist). The cluster resolution
    * is the same band-keyed pair join (skew-cappable via `maxBandDf`) +
    * min-label propagation as [[dedupClusters]]; the verification join is
    * two id equi-joins fetching member and canonical text.
    */
  def fuzzyCanonicalVerify(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxNorm: Double = 0.4,
      numPerm: Int = 8,
      rowsPerBand: Int = 2,
      fast: Boolean = false,
      maxBandDf: Long = AutoBandDf
  ): DataFrame = {
    val pairs =
      minhashCandidatePairs(df, idCol, textCol, numPerm, rowsPerBand, fast, maxBandDf)
    val cc = connectedComponents(pairs, df.select(col(idCol)))
    val members = cc.filter(col("id") =!= col("comp"))
    val texts = df.select(col(idCol), col(textCol))
    members
      .join(texts.select(col(idCol).as("id"), col(textCol).as("_t")), "id")
      .join(texts.select(col(idCol).as("comp"), col(textCol).as("_c")), "comp")
      .select(
        col("id").as("doc_id"),
        col("comp").as("canonical_id"),
        levenshtein(col("_t"), col("_c")).cast("bigint").as("edit_dist"),
        (levenshtein(col("_t"), col("_c")).cast("double") /
          greatest(length(col("_t")), length(col("_c")), lit(1))).as("norm_dist")
      )
      .filter(col("norm_dist") <= maxNorm)
  }

  /** End-to-end near-dup clustering: MinHash/LSH candidate pairs →
    * connected components → (doc_id, cluster_id, cluster_size). Documents
    * with no near-dup are singleton clusters of themselves. The size window
    * partitions by cluster_id (shuffle key = window key — never global).
    */
  def dedupClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numPerm: Int = 8,
      rowsPerBand: Int = 2,
      fast: Boolean = false,
      maxBandDf: Long = AutoBandDf
  ): DataFrame = {
    val pairs =
      minhashCandidatePairs(df, idCol, textCol, numPerm, rowsPerBand, fast, maxBandDf)
    val cc = connectedComponents(pairs, df.select(col(idCol)))
    cc.select(col("id").as(idCol), col("comp").as("cluster_id"))
      .withColumn(
        "cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id")))
      )
  }

  /** End-to-end near-dup clustering over 64-bit SKETCHES — the
    * [[dedupClusters]] shape for the perceptual family (image dHash, audio
    * energy hash, SimHash): [[hammingBandPairs]] edges → connected
    * components → (id, cluster_id, cluster_size). A re-encode chain (the
    * original, its resize, the resize's re-encode…) that pairs only
    * link-by-link still resolves to ONE canonical cluster, which is what a
    * keep-policy needs — pairs alone under-count duplicates whenever
    * near-dup relations chain. Assets with no near-dup are singleton
    * clusters of themselves; size window partitions by cluster_id.
    */
  def hammingClusters(
      sketches: DataFrame,
      idCol: String,
      bitsCol: String,
      maxHamming: Int = 3
  ): DataFrame = {
    val pairs = hammingBandPairs(sketches, idCol, bitsCol, maxHamming).select("id1", "id2")
    val cc = connectedComponents(pairs, sketches.select(col(idCol)))
    cc.select(col("id").as(idCol), col("comp").as("cluster_id"))
      .withColumn(
        "cluster_size",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id")))
      )
  }

  /** Chunk-level ("line-level") exact dedup — the corpus-wide boilerplate
    * remover every web-scale curation pipeline runs (headers, footers, cookie
    * banners repeated across millions of pages). The classic formulation
    * dedupes newline-split lines; this corpus has no newlines, so the unit is
    * a fixed-width token chunk — same pipeline shape, pluggable splitter.
    *
    * Per document: tokenize, group tokens into `chunkTokens`-wide chunks,
    * then keep only each chunk content's FIRST corpus-wide occurrence
    * (ordered by doc id, then position) and reassemble the survivors in
    * original order. The first-occurrence winner per chunk is
    * `min(struct(id, idx))` under a `groupBy(chunk)` — a partial (map-side)
    * aggregate, so a boilerplate chunk repeated a billion times collapses to
    * one row per map task BEFORE the shuffle; the window-over-content
    * alternative would funnel the full hot key through one reducer. The
    * reassembly `collect_list` is bounded by single-document size.
    *
    * @return (id, text_dedup, kept_chunks, dropped_chunks) — one row per
    *         input document; a document whose every chunk appeared earlier
    *         elsewhere keeps an empty string.
    */
  def chunkDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      chunkTokens: Int = 10
  ): DataFrame = {
    val ws = TextAnalysis.tokens(col(textCol))
    // split("") yields [""] (size 1) in both engines, so nChunks >= 1 for any
    // non-null text — no descending-sequence hazard
    val nChunks = floor((size(col("_ws")) + lit(chunkTokens - 1)) / lit(chunkTokens)).cast("int")
    val docs = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), ws.as("_ws"))
    // Per-doc chunk totals come from the doc-level projection (one row per
    // doc, tokenize only) — NOT from re-aggregating the exploded chunks,
    // which would run the explode and shuffle every chunk a second time.
    val totals = docs.select(col(idCol), nChunks.cast("bigint").as("_total"))
    val chunked = docs
      .select(
        col(idCol),
        posexplode(
          transform(
            sequence(lit(0), nChunks - 1),
            i => array_join(slice(col("_ws"), i * chunkTokens + 1, lit(chunkTokens)), " ")
          )
        ).as(Seq("_idx", "_chunk"))
      )
    // Scale note: the winner groupBy keys on the raw chunk STRING. An
    // xxhash64 key would narrow the shuffle key, but reassembly needs the
    // chunk text grouped by winner doc anyway, so the string must ride the
    // shuffle once regardless (as key here, or as a struct field beside a
    // hash key — same bytes), and a hash key silently merges colliding
    // distinct chunks. Partial aggregation already collapses repeated
    // chunks per map task before the shuffle, which is where the 100 TB
    // win lives; the exact string key is kept for collision-free dedup.
    val winners = chunked
      .groupBy(col("_chunk"))
      .agg(min(struct(col(idCol), col("_idx"))).as("_w"))
      .select(col("_w")(idCol).as(idCol), col("_w")("_idx").as("_idx"), col("_chunk"))
    val reassembled = winners
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("_idx"), col("_chunk")))), _("_chunk")),
          " "
        ).as("text_dedup"),
        count(lit(1)).as("kept_chunks")
      )
    totals
      .join(reassembled, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"),
        coalesce(col("kept_chunks"), lit(0L)).as("kept_chunks"),
        (col("_total") - coalesce(col("kept_chunks"), lit(0L))).as("dropped_chunks")
      )
  }

  /** Content-defined chunk table (Rabin/Gear-style CDC, the storage-dedup
    * standard of LBFS/Venti/FastCDC): a chunk boundary sits after char `i`
    * (1-based, `i` ∈ [window, n−1]) whenever the polynomial hash of the
    * trailing `window` chars — Σ_j c_{i−window+1+j}·131^{window−1−j}, exact
    * BIGINT, no mid-fold overflow for window ≤ 8 — is ≡ 0 mod 2^maskBits.
    * Boundaries depend ONLY on local content, so an insertion early in a
    * document shifts every FIXED-grid chunk after it but re-synchronizes
    * CDC chunks at the first boundary past the edit — the property that
    * makes chunk-level dedup survive prefix/edit noise (asserted in
    * PipelineOpsSpec; measured against the fixed grid in
    * `dedup_cdc_chunks`).
    *
    * Pure higher-order column expressions over a materialized char array —
    * the inner window fold references the array `window` times per
    * position, so the split is projected ONCE per row first (the
    * [[shinglesFromWords]] CollapseProject contract). O(n·window) per doc,
    * fused into the scan, no shuffle until the caller aggregates chunks.
    *
    * @return (idCol, chunk_idx, chunk) — every doc yields ≥ 1 chunk (empty
    *         text yields one empty chunk, like the fixed grid's ceil)
    */
  def cdcChunkTable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 8,
      maskBits: Int = 6
  ): DataFrame = {
    val mod = 1L << maskBits
    val bnd = filter(
      // sequence() DESCENDS when start > stop, so the [window, n−1] range
      // only materializes when n−1 ≥ window
      when(col("_n") - 1 >= window, sequence(lit(window), col("_n") - 1))
        .otherwise(array().cast("array<int>")),
      i => {
        val h = aggregate(
          sequence(lit(0), lit(window - 1)),
          lit(0L),
          (acc, j) => acc * 131 + ascii(element_at(col("_cs"), i - (window - 1) + j))
        )
        h % mod === 0
      }
    )
    spread(df.select(col(idCol), col(textCol)))
      .select(
        col(idCol),
        col(textCol),
        split(col(textCol), "").as("_cs"),
        length(col(textCol)).as("_n")
      )
      .select(col(idCol), col(textCol), col("_n"), bnd.as("_bnd"))
      .select(
        col(idCol),
        col(textCol),
        concat(array(lit(1)), transform(col("_bnd"), b => b + 1)).as("_starts"),
        concat(col("_bnd"), array(col("_n"))).as("_ends")
      )
      .select(
        col(idCol),
        posexplode(
          transform(
            sequence(lit(1), size(col("_starts"))),
            k =>
              col(textCol).substr(
                element_at(col("_starts"), k),
                element_at(col("_ends"), k) - element_at(col("_starts"), k) + 1
              )
          )
        ).as(Seq("chunk_idx", "chunk"))
      )
  }

  /** Fixed-grid chunk table — the baseline CDC is measured against: chunk
    * `i` covers chars [i·size+1, (i+1)·size]. Same output shape as
    * [[cdcChunkTable]]; an empty text yields one empty chunk.
    */
  def fixedChunkTable(
      df: DataFrame,
      idCol: String,
      textCol: String,
      size: Int = 64
  ): DataFrame = {
    val nChunks = greatest(ceil(length(col(textCol)) / lit(size.toDouble)).cast("int"), lit(1))
    spread(df.select(col(idCol), col(textCol)))
      .select(
        col(idCol),
        posexplode(
          transform(
            sequence(lit(0), nChunks - 1),
            i => col(textCol).substr(i * size + 1, lit(size))
          )
        ).as(Seq("chunk_idx", "chunk"))
      )
  }

  /** Chunk-store dedup accounting per scheme: logical bytes (every chunk
    * instance) vs stored bytes (each DISTINCT chunk once — the
    * content-addressed store's footprint) and the exact saved-ppm ratio.
    * Two hash-shuffles on (scheme, chunk) with map-side partial aggregation
    * — a chunk repeated a billion times collapses per map task before
    * either exchange; no window, no all-pairs.
    */
  def chunkStorageStats(chunks: DataFrame, schemeCol: String, chunkCol: String): DataFrame = {
    val totals = chunks
      .groupBy(col(schemeCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(length(col(chunkCol))).cast("long").as("logical_chars")
      )
    val uniq = chunks
      .select(col(schemeCol), col(chunkCol))
      .distinct()
      .groupBy(col(schemeCol))
      .agg(
        count(lit(1)).as("n_unique"),
        sum(length(col(chunkCol))).cast("long").as("stored_chars")
      )
    totals
      .join(uniq, Seq(schemeCol))
      .select(
        col(schemeCol),
        col("n_chunks"),
        col("n_unique"),
        col("logical_chars"),
        col("stored_chars"),
        expr("(logical_chars - stored_chars) * 1000000 div logical_chars").as("saved_ppm")
      )
  }

  /** Sorted-neighborhood candidate pairs (Hernández & Stolfo 1995) — the
    * linkage-blocking complement to equi-join blocks: sort each block by a
    * fuzzy-match-relevant key and pair every row with its `w` nearest sort
    * neighbors. Where hash/band blocking misses near-matches that straddle
    * a band boundary (the documented q_record_linkage recall gap), the
    * sorted window catches them — adjacent sort positions ARE the
    * near-in-key pairs, whatever side of a bucket edge they fall on.
    *
    * One keyed window per block (no global sort — the block key IS the
    * shuffle key), `w` lead() columns materialized in a single pass, then
    * a posexplode; pair count is ≤ w·n, linear in the corpus. Carry
    * columns ride inside the lead struct so no self-join is ever needed to
    * recover both sides' payloads.
    *
    * @return (blockCols…, id1, id2, gap, <carry>_1, <carry>_2) — gap is
    *         the sort-rank distance in [1, w]
    */
  def sortedNeighborPairs(
      df: DataFrame,
      idCol: String,
      blockCols: Seq[String],
      sortCols: Seq[String],
      w: Int,
      carryCols: Seq[String] = Nil
  ): DataFrame = {
    require(blockCols.nonEmpty && w >= 1, "sortedNeighborPairs needs blocks and w >= 1")
    val win = Window
      .partitionBy(blockCols.map(col): _*)
      .orderBy(sortCols.map(col) :+ col(idCol): _*)
    val payload = struct(col(idCol) +: carryCols.map(col): _*)
    val leads = array((1 to w).map(j => lead(payload, j).over(win)): _*)
    df.select(
      blockCols.map(col) ++
        (col(idCol).as("id1") +: carryCols.map(c0 => col(c0).as(s"${c0}_1"))) :+
        leads.as("_ls"): _*
    ).select(
      blockCols.map(col) ++
        (col("id1") +: carryCols.map(c0 => col(s"${c0}_1"))) :+
        posexplode(col("_ls")).as(Seq("_g", "_p")): _*
    ).filter(col("_p").isNotNull)
      .select(
        blockCols.map(col) ++
          Seq(
            col("id1"),
            col("_p")(idCol).as("id2"),
            (col("_g") + 1).cast("long").as("gap")
          ) ++
          carryCols.flatMap(c0 => Seq(col(s"${c0}_1"), col("_p")(c0).as(s"${c0}_2"))): _*
      )
  }

  /** Exact pair-counting agreement between two clusterings of the same ids
    * — Rand index and Adjusted Rand Index (Hubert & Arabie 1985), the
    * standard answer to "do these two dedup passes group the corpus the
    * same way?". All pair counts come from the CONTINGENCY table (≤ one
    * row per label pair, built with one partial-agg shuffle; marginals are
    * re-aggregations of the contingency, never of the data), so nothing
    * all-pairs ever materializes. Overflow posture: every C(m,2) product
    * routes through DECIMAL(38,0) before the divide, so the pair counts are
    * exact as long as they FIT in the BIGINT output columns (n up to ~4.3e9
    * docs — n_pairs < 2^63); ri_ppm multiplies through DECIMAL(38,0) too,
    * so it cannot wrap. The ARI ratio is computed in DOUBLE (its n^4-scale
    * cross products overflow any fixed integer width long before the pair
    * counts do) — exact below 2^53-sized products, ~1e-16 relative beyond,
    * with the degenerate-denominator convention ARI = 1 (two trivial
    * clusterings agree).
    *
    * @return one row: (n_docs, n_pairs, sum_a, sum_b, sum_ij, ri_ppm, ari)
    */
  def clusterAgreement(
      a: DataFrame,
      b: DataFrame,
      idCol: String,
      aLabel: String,
      bLabel: String
  ): DataFrame = {
    val joined = a
      .select(col(idCol), col(aLabel).as("_la"))
      .join(b.select(col(idCol), col(bLabel).as("_lb")), idCol)
    // contingency reused by three aggregates — materialize once
    val cont = joined
      .groupBy(col("_la"), col("_lb"))
      .agg(count(lit(1)).cast("long").as("_n"))
      .localCheckpoint()
    val sij = cont.agg(
      sum(expr("CAST(_n AS DECIMAL(38,0)) * (_n - 1) div 2")).cast("long").as("sum_ij"),
      sum(col("_n")).cast("long").as("n_docs")
    )
    val sa = cont
      .groupBy(col("_la"))
      .agg(sum(col("_n")).as("_m"))
      .agg(sum(expr("CAST(_m AS DECIMAL(38,0)) * (_m - 1) div 2")).cast("long").as("sum_a"))
    val sb = cont
      .groupBy(col("_lb"))
      .agg(sum(col("_n")).as("_m"))
      .agg(sum(expr("CAST(_m AS DECIMAL(38,0)) * (_m - 1) div 2")).cast("long").as("sum_b"))
    val ariDen =
      "CAST(n_pairs AS DOUBLE) * (CAST(sum_a AS DOUBLE) + CAST(sum_b AS DOUBLE)) " +
        "- 2 * (CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE))"
    sij
      .crossJoin(sa)
      .crossJoin(sb)
      .withColumn("n_pairs", expr("CAST(CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1) div 2 AS BIGINT)"))
      .select(
        col("n_docs"),
        col("n_pairs"),
        col("sum_a"),
        col("sum_b"),
        col("sum_ij"),
        expr(
          "CAST((CAST(n_pairs AS DECIMAL(38,0)) - sum_a - sum_b " +
            "+ 2 * CAST(sum_ij AS DECIMAL(38,0))) * 1000000 div n_pairs AS BIGINT)"
        ).as("ri_ppm"),
        round(
          when(expr(s"$ariDen = 0"), lit(1.0))
            .otherwise(
              expr(
                "(2 * (CAST(n_pairs AS DOUBLE) * CAST(sum_ij AS DOUBLE) " +
                  s"- CAST(sum_a AS DOUBLE) * CAST(sum_b AS DOUBLE))) / ($ariDen)"
              )
            ),
          6
        ).as("ari")
      )
  }

  /** Exact-substring duplication measure (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): per document, the
    * fraction of its `k`-token spans that occur verbatim in at least one
    * OTHER document (within-doc repetition is cur_repetition's signal, not
    * this one — hence the distinct-doc frequency test). The suffix-array
    * formulation of the paper is a single-machine construction; at corpus
    * scale the same measure distributes as span-digest aggregation:
    * explode spans → md5 → distinct-per-doc df count → flag df ≥ 2 →
    * per-doc position share. Only 32-char digests shuffle; the partial
    * aggregate collapses a span repeated a billion times to one row per
    * map task before the exchange.
    *
    * `k` = 8 tokens here (the paper uses 50 on web-scale text; the knob is
    * the span width and the synthetic docs average ~54 tokens). dup_ppm is
    * an exact integral division; empty-span docs (< k tokens) carry the -1
    * sentinel.
    *
    * @return one row per document: (id, n_spans, n_dup, dup_ppm)
    */
  def spanDuplication(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8
  ): DataFrame = {
    val docs = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_ws"))
    // one digest per span POSITION (duplicate spans within a doc keep their
    // multiplicity — the per-doc share is over positions, per the paper)
    val spans = docs
      .select(col(idCol), explode_outer(shinglesFromWords(col("_ws"), k)).as("_sp"))
      .select(col(idCol), md5(col("_sp")).as("_h"))
      // self-join recompute guard (see simhashPairs): the df side and the
      // position side both consume this frame — without truncation the
      // tokenize/explode/md5 pipeline runs twice. Only (id, 32-hex) rows
      // persist.
      .localCheckpoint()
    // corpus-duplicated spans: present in ≥ 2 DISTINCT docs. distinct()
    // before the df count so a hot span collapses map-side twice (per-doc,
    // then per-digest) and the df aggregate never sees position fan-out.
    val dup = spans
      .filter(col("_h").isNotNull)
      .distinct()
      .groupBy("_h")
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2)
      .select(col("_h"), lit(1L).as("_isdup"))
    spans
      .join(dup, Seq("_h"), "left")
      .groupBy(idCol)
      .agg(
        count(col("_h")).as("n_spans"),
        count(col("_isdup")).as("n_dup")
      )
      .select(
        col(idCol),
        col("n_spans"),
        col("n_dup"),
        when(col("n_spans") === 0L, lit(-1L))
          .otherwise(expr("n_dup * 1000000L div n_spans"))
          .cast("long")
          .as("dup_ppm")
      )
  }

  /** Span-novelty attribution — the provenance inverse of
    * [[spanDuplication]]: a doc's DISTINCT k-token spans are "novel" when
    * this doc is the span's first appearance corpus-wide (minimum doc id
    * owns the span). High-novelty docs contribute new text to the corpus;
    * low-novelty docs are recombinations — the attribution view a dedup
    * postmortem reads alongside the duplication share.
    *
    * Plan: per-doc DISTINCT span digests (two-level partial agg collapses
    * hot spans map-side), one digest-keyed min-agg for the owner, one
    * equi-join back on the digest, one per-doc agg. Only 32-hex digests and
    * BIGINT ids shuffle; exact integral ppm; empty-span docs carry the −1
    * sentinel like spanDuplication.
    */
  def spanNovelty(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8
  ): DataFrame = {
    val docs = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_ws"))
    val spans = docs
      .select(col(idCol), explode_outer(shinglesFromWords(col("_ws"), k)).as("_sp"))
      .select(col(idCol), md5(col("_sp")).as("_h"))
      .distinct() // novelty is over a doc's distinct spans, not positions
      .localCheckpoint() // owner agg + per-doc side both consume it
    val owner = spans
      .filter(col("_h").isNotNull)
      .groupBy("_h")
      .agg(min(col(idCol)).as("_fd"))
    spans
      .join(owner, Seq("_h"), "left")
      .groupBy(idCol)
      .agg(
        count(col("_h")).as("n_spans"),
        sum(when(col("_fd") === col(idCol), 1L).otherwise(0L)).cast("long").as("n_novel")
      )
      .select(
        col(idCol),
        col("n_spans"),
        col("n_novel"),
        when(col("n_spans") === 0L, lit(-1L))
          .otherwise(expr("n_novel * 1000000L div n_spans"))
          .cast("long")
          .as("novel_ppm")
      )
  }

  /** Persist the corpus's DISTINCT k-token span digests — the state that
    * makes exact-substring duplication measurement ([[spanDuplication]])
    * incremental: a new batch's spans probe this set instead of re-hashing
    * corpus text. One 32-hex row per distinct span, 16-way hash-prefix
    * partitioned (same layout rationale as [[buildMinhashIndex]]); append
    * an accepted batch's digests the same way (distinct rows, so replay
    * duplicates are harmless to the membership semantics).
    */
  def buildSpanIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      k: Int = 8
  ): Unit = {
    spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_ws"))
      .select(explode_outer(shinglesFromWords(col("_ws"), k)).as("_sp"))
      .filter(col("_sp").isNotNull)
      .select(md5(col("_sp")).as("h"))
      .distinct()
      .withColumn("h_pfx", pmod(xxhash64(col("h")), lit(16)))
      .write
      .mode("overwrite")
      .partitionBy("h_pfx")
      .parquet(path)
    ParquetIO.invalidate(path) // rebuild may replace a read path
  }

  /** [[spanDuplication]] for a NEW batch against a [[buildSpanIndex]]
    * corpus: a batch span position counts as duplicated when its digest
    * exists in the persisted corpus set OR in ≥ 2 distinct batch documents
    * — exactly the monolithic measure over corpus ∪ batch restricted to
    * batch rows, without touching corpus text (the batch's own spans are
    * the only text pass). Probe = one digest-keyed semi-join against the
    * index; per-doc shares exact integer ppm with the same −1 empty-doc
    * sentinel as the monolithic op.
    */
  def incrementalSpanDuplication(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      k: Int = 8
  ): DataFrame = {
    val spans = spread(batch.select(col(idCol), col(textCol)))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_ws"))
      .select(col(idCol), explode_outer(shinglesFromWords(col("_ws"), k)).as("_sp"))
      .select(col(idCol), md5(col("_sp")).as("_h"))
      .localCheckpoint() // membership + per-doc agg both consume it
    val idx = ParquetIO.read(batch.sparkSession, path).select(col("h").as("_h"))
    val batchDup = spans
      .filter(col("_h").isNotNull)
      .distinct()
      .groupBy("_h")
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") >= 2)
      .select("_h")
    val dup = idx.unionByName(batchDup).distinct().select(col("_h"), lit(1L).as("_isdup"))
    spans
      .join(dup, Seq("_h"), "left")
      .groupBy(idCol)
      .agg(
        count(col("_h")).as("n_spans"),
        count(col("_isdup")).as("n_dup")
      )
      .select(
        col(idCol),
        col("n_spans"),
        col("n_dup"),
        when(col("n_spans") === 0L, lit(-1L))
          .otherwise(expr("n_dup * 1000000L div n_spans"))
          .cast("long")
          .as("dup_ppm")
      )
  }

  /** Exact-substring dedup as a REWRITE — the mitigation step behind
    * [[spanDuplication]]'s measurement (Lee et al. 2022 remove duplicated
    * substrings from the corpus rather than dropping whole documents):
    * tokens covered by any corpus-duplicated k-token span are CUT from
    * every document except the span's owner (min doc id — keep-first, the
    * repo-wide policy), and the surviving tokens are rejoined in order.
    * Emits per doc: token count, dropped-token count, and the md5 of the
    * rewritten text (the compact hash-verifiable witness of the rewrite).
    *
    * Plan shape at scale: span digests + positions (32-hex + two ints per
    * span) are the only per-span payload; ownership is one digest-keyed agg
    * over per-doc-distinct digests; coverage expansion fans out exactly k
    * positions per REMOVED span (never per span); and the explode → anti-
    * join → regroup rebuild runs ONLY for documents that actually lost a
    * token (a semi-join gate — at sf0.1 that is 24 of 5000 docs, and on a
    * deduplicated production corpus the touched fraction is similarly
    * small). Untouched documents emit `md5(array_join(tokens))` straight
    * off their token array — same bytes as the rebuild path would produce,
    * no explode. Per-rebuild-group state is one touched document's tokens,
    * the irreducible cost of producing rewritten text. No all-pairs
    * anything.
    */
  def spanRewrite(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8
  ): DataFrame = {
    // token + span paths both consume the tokenized frame — truncate the
    // lineage once (see simhashPairs' recompute-guard note)
    val docs = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_ws"))
      .localCheckpoint()
    val spans = docs
      .select(col(idCol), posexplode_outer(shinglesFromWords(col("_ws"), k)).as(Seq("_p", "_sp")))
      .filter(col("_sp").isNotNull)
      .select(col(idCol), col("_p"), md5(col("_sp")).as("_h"))
      .localCheckpoint() // ownership agg + removal join both consume it
    // span owner = min doc id over the distinct docs containing the digest;
    // only df >= 2 digests ever travel further
    val owners = spans
      .select(col(idCol), col("_h"))
      .distinct()
      .groupBy("_h")
      .agg(min(col(idCol)).as("_own"), count(lit(1)).as("_df"))
      .filter(col("_df") >= 2)
      .select("_h", "_own")
    // positions to cut: non-owner occurrences, expanded to the k covered
    // token slots, deduplicated (overlapping cut spans cover shared tokens)
    val cov = spans
      .join(owners, "_h")
      .filter(col(idCol) =!= col("_own"))
      .select(col(idCol), explode(sequence(col("_p"), col("_p") + lit(k - 1))).as("_j"))
      .distinct()
      .localCheckpoint() // gates the rebuild AND feeds the anti-join
    rebuildAfterCuts(docs, cov, idCol)
  }

  /** The rebuild tail shared by [[spanRewrite]] and
    * [[incrementalSpanRewrite]]: given tokenized docs (`idCol`, `_ws`) and
    * the covered positions to cut (`idCol`, `_j`), emit the per-doc
    * rewrite witness. Untouched docs (the overwhelming majority) hash
    * their token array straight — no explode, no regroup; only documents
    * that actually lost a token pay the explode → anti-join → regroup
    * rebuild (a semi-join gate).
    */
  private def rebuildAfterCuts(docs: DataFrame, cov: DataFrame, idCol: String): DataFrame = {
    val cutDocs = cov.select(col(idCol)).distinct()
    val untouched = docs
      .join(cutDocs, Seq(idCol), "left_anti")
      .select(
        col(idCol),
        size(col("_ws")).cast("long").as("n_tokens"),
        lit(0L).as("n_dropped"),
        md5(array_join(col("_ws"), " ")).as("kept_md5")
      )
    val touchedDocs = docs.join(cutDocs, Seq(idCol), "left_semi")
    val tok = touchedDocs
      .select(col(idCol), posexplode_outer(col("_ws")).as(Seq("_j", "_w")))
      .filter(col("_w").isNotNull)
    val rebuilt = tok
      .join(cov, Seq(idCol, "_j"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("_nk"),
        md5(
          array_join(
            transform(array_sort(collect_list(struct(col("_j"), col("_w")))), x => x.getField("_w")),
            " "
          )
        ).as("_kmd5")
      )
    val touched = touchedDocs
      .select(col(idCol), size(col("_ws")).cast("long").as("n_tokens"))
      .join(rebuilt, Seq(idCol), "left")
      .select(
        col(idCol),
        col("n_tokens"),
        (col("n_tokens") - coalesce(col("_nk"), lit(0L))).cast("long").as("n_dropped"),
        coalesce(col("_kmd5"), md5(lit(""))).as("kept_md5")
      )
    untouched.unionByName(touched)
  }

  /** [[spanRewrite]] for a NEW batch against a [[buildSpanIndex]] corpus —
    * the per-ingest mitigation pass: a batch token is cut when covered by a
    * k-token span that exists in the persisted corpus span set (the corpus
    * ingested earlier, so it owns — temporal keep-first) or that occurs in
    * ≥ 2 distinct batch documents and this doc is not the batch's min-id
    * owner. With batch ids greater than all corpus ids (the ingest-order
    * contract every incremental entry here uses), this is EXACTLY
    * `spanRewrite(corpus ∪ batch)` restricted to batch rows — the
    * `dedup_incremental_rewrite` twin replays that monolithic construction.
    *
    * Per-ingest text work is O(batch): the batch's own spans are the only
    * tokenization, and the corpus-membership probe reduces the index scan
    * with a broadcast of the batch's distinct digests — the 100 TB span set
    * is read once, never shuffled, and only batch-hitting digests leave it.
    */
  def incrementalSpanRewrite(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      k: Int = 8
  ): DataFrame = {
    val docs = spread(batch.select(col(idCol), col(textCol)))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_ws"))
      .localCheckpoint()
    val spans = docs
      .select(col(idCol), posexplode_outer(shinglesFromWords(col("_ws"), k)).as(Seq("_p", "_sp")))
      .filter(col("_sp").isNotNull)
      .select(col(idCol), col("_p"), md5(col("_sp")).as("_h"))
      .localCheckpoint() // membership probe, ownership agg, and cut join reuse it
    val batchDigests = spans.select(col("_h")).distinct()
    val present = ParquetIO.read(batch.sparkSession, path)
      .select(col("h").as("_h"))
      .join(broadcast(batchDigests), Seq("_h"))
      .distinct()
      .localCheckpoint() // batch-bounded: only digests the batch carries
    val batchOwn = spans
      .select(col(idCol), col("_h"))
      .distinct()
      .groupBy("_h")
      .agg(min(col(idCol)).as("_own"), count(lit(1)).as("_df"))
    val cut = spans
      .join(batchOwn, Seq("_h"))
      .join(broadcast(present.withColumn("_in", lit(1L))), Seq("_h"), "left")
      .filter(col("_in").isNotNull || (col("_df") >= 2 && col(idCol) =!= col("_own")))
    val cov = cut
      .select(col(idCol), explode(sequence(col("_p"), col("_p") + lit(k - 1))).as("_j"))
      .distinct()
      .localCheckpoint()
    rebuildAfterCuts(docs, cov, idCol)
  }

  /** SimHash near-duplicate pairs: block on the sketch's 4 16-bit bands
    * (pigeonhole: any pair within Hamming distance 3 of each other shares at
    * least one identical band, so recall at `maxHamming` ≤ 3 is EXACT — no
    * probabilistic miss), then verify with the exact Hamming distance. The
    * band equi-join shuffles on a 16-bit scalar key; pairs are deduplicated
    * before the distance, so multi-band hits cost one comparison. The
    * distance runs only on candidates — never all pairs.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3
  ): DataFrame =
    hammingBandPairs(simhash(df, idCol, textCol), idCol, "simhash", maxHamming)

  /** Near-duplicate pairs of ANY 64-bit sketch carried as a 64-char
    * bitstring column — the band-block + exact-Hamming-verify kernel shared
    * by SimHash text sketches ([[simhashPairs]]) and perceptual image
    * hashes (`Multimodal.imageDHashes`). Blocks on the sketch's 4 16-bit
    * bands (pigeonhole: any pair within Hamming distance 3 shares at least
    * one identical band, so recall at `maxHamming` ≤ 3 is EXACT; above 3
    * the banding is a high-recall prefilter), then verifies with the exact
    * distance on candidates only — never all pairs.
    */
  def hammingBandPairs(
      sketches: DataFrame,
      idCol: String,
      bitsCol: String,
      maxHamming: Int = 3
  ): DataFrame = {
    // Bands travel as 16-bit INTEGERS (not 16-char strings): the candidate
    // join carries 4 longs per side and the Hamming distance is 4 codegen'd
    // bit_count(xor) terms — no per-pair array/string work. On a
    // homogeneous corpus band collisions are the cost driver (similar word
    // distributions ⇒ similar sketch bits), so keeping the per-candidate
    // payload/compute minimal is what keeps the blocking viable.
    // localCheckpoint: the self-join below would otherwise execute the whole
    // sketch pipeline (token explode → md5 → 64 bit-sum aggregates) once per
    // side — Spark's ReuseExchange does not fire across the aliased branches
    // (measured: 0 ReusedExchange, md5 twice in the plan). The checkpointed
    // relation is one row of 5 longs per doc — negligible to materialize,
    // and it halves the expensive phase. On a multi-node cluster prefer
    // reliable checkpoint() (same caveat as connectedComponents).
    val withBands = sketches.select(
      col(idCol) +: (0 until 4).map(b =>
        conv(substring(col(bitsCol), b * 16 + 1, 16), 2, 10).cast("long").as(s"_i$b")
      ): _*
    ).localCheckpoint()
    val banded = withBands.select(
      (col(idCol) +: (0 until 4).map(b => col(s"_i$b"))) :+
        posexplode(array((0 until 4).map(b => col(s"_i$b")): _*)).as(Seq("_band", "_bv")): _*
    )
    banded
      .as("a")
      .join(
        banded.as("b"),
        col("a._band") === col("b._band") && col("a._bv") === col("b._bv") &&
          col(s"a.$idCol") < col(s"b.$idCol")
      )
      .select(
        col(s"a.$idCol").as("id1"),
        col(s"b.$idCol").as("id2"),
        (0 until 4)
          .map(b => bit_count(col(s"a._i$b").bitwiseXOR(col(s"b._i$b"))))
          .reduce(_ + _)
          .cast("bigint")
          .as("hamming")
      )
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact GROUP-level shingle overlap matrix: the distinct shingle set of
    * each group (source, dump, crawl snapshot…) compared pairwise — the
    * corpus-overlap read that decides whether two sources are the same feed
    * relabeled before both are mixed into a training blend. Every group pair
    * is emitted (zeros included — "no overlap" is the answer worth reading),
    * with exact distinct-shingle sizes, intersection, and integer-ppm
    * Jaccard.
    *
    * Cost shape: one (group, shingle) distinct (data-sized partial agg), a
    * shingle-keyed self-equi-join whose per-key fan-out is bounded by the
    * GROUP count (never by rows — the distinct collapsed duplicates), and
    * groups²-bounded rollups; the full matrix assembles on a broadcast
    * grid. The corpus is scanned once — the distinct frame is checkpointed
    * and reused by sizes and intersection alike.
    */
  def sourceOverlapMatrix(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      k: Int = 3
  ): DataFrame = {
    val gs = spread(df.select(col(groupCol).as("_g"), col(textCol)))
      .select(col("_g"), TextAnalysis.tokens(col(textCol)).as("_ws"))
      .select(col("_g"), explode(shinglesFromWords(col("_ws"), k)).as("_sh"))
      .distinct()
      .localCheckpoint()
    // census the groups from the INPUT, not the shingle frame — a group
    // whose every doc is shorter than k words still belongs in the matrix
    // (with size 0), not silently dropped
    val sizes = df
      .select(col(groupCol).as("_g"))
      .distinct()
      .join(gs.groupBy(col("_g")).agg(count(lit(1)).cast("long").as("n")), Seq("_g"), "left")
      .na
      .fill(0L, Seq("n"))
    val inter = gs
      .select(col("_g").as("g1"), col("_sh"))
      .join(gs.select(col("_g").as("g2"), col("_sh")), "_sh")
      .filter(col("g1") < col("g2"))
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).cast("long").as("_i"))
    sizes
      .select(col("_g").as("src1"), col("n").as("n1"))
      .crossJoin(broadcast(sizes.select(col("_g").as("src2"), col("n").as("n2"))))
      .filter(col("src1") < col("src2"))
      .join(
        broadcast(inter),
        col("src1") === col("g1") && col("src2") === col("g2"),
        "left"
      )
      .na
      .fill(0L, Seq("_i"))
      .select(
        col("src1"),
        col("src2"),
        col("n1"),
        col("n2"),
        col("_i").as("n_shared"),
        when(col("n1") + col("n2") - col("_i") === 0, 0L)
          .otherwise(expr("_i * 1000000L div (n1 + n2 - _i)"))
          .cast("long")
          .as("jaccard_ppm")
      )
  }

  /** Exact n-gram Jaccard over pairs sharing ≥1 shingle within candidate
    * blocks (matching `blockCols`), id1 < id2, similarity rounded for
    * cross-engine stability. Formulated as a shingle equi-join + group count:
    * |intersection| is the join-group size, |union| = szA + szB − common, so
    * no per-pair array ever materializes. Pairs with zero overlap (jaccard 0)
    * are by construction absent. At scale the block key is an LSH band (see
    * minhashCandidatePairs); the join shape is identical.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String]
  ): DataFrame = {
    val docs = spread(df.select(Seq(col(idCol), col(textCol)) ++ blockCols.map(col): _*))
      .select(
        Seq(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("_ws")) ++
          blockCols.map(col): _*
      )
      .select(
        Seq(col("id"), array_distinct(shinglesFromWords(col("_ws"))).as("sh")) ++
          blockCols.map(col): _*
      )
    // explode_outer, not explode: a bare explode makes Catalyst infer a
    // `size(sh) > 0` filter (InferFiltersFromGenerate) that gets pushed below
    // the projection with the full shingle expression re-inlined — measured
    // ~8× slowdown. The null rows explode_outer adds are dropped by the join
    // keys anyway.
    val exploded = docs
      .select(
        Seq(col("id"), size(col("sh")).as("sz"), explode_outer(col("sh")).as("s")) ++
          blockCols.map(col): _*
      )
      .filter(col("s").isNotNull)
    val joinCond = blockCols
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.s") === col("b.s") && col("a.id") < col("b.id"))(_ && _)
    // self-join recompute guard (see simhashPairs): one row per shingle —
    // bigger than a signature table but still far cheaper than running the
    // shingle pipeline twice
    val cached = exploded.localCheckpoint()
    cached
      .as("a")
      .join(cached.as("b"), joinCond)
      .groupBy(
        col("a.id").as("id1"),
        col("b.id").as("id2"),
        col("a.sz").as("sza"),
        col("b.sz").as("szb")
      )
      .agg(count(lit(1)).as("common"))
      .select(
        col("id1"),
        col("id2"),
        round(
          col("common").cast("double") / (col("sza") + col("szb") - col("common")),
          4
        ).as("jaccard")
      )
  }

  /** Set-similarity COEFFICIENT matrix over the blocked shingle pairs —
    * the three classical normalizations of one intersection count, side by
    * side, because dedup thresholds tuned on one do not transfer to the
    * others (Jaccard penalizes size mismatch twice, Dice once, overlap not
    * at all — a document inside its quote-superset scores ~0.5 Jaccard,
    * ~0.67 Dice, 1.0 overlap):
    *
    *   jaccard = |A∩B| / |A∪B|
    *   dice    = 2|A∩B| / (|A|+|B|)
    *   overlap = |A∩B| / min(|A|,|B|)
    *
    * Same blocked shingle equi-join + checkpoint shape as
    * [[ngramJaccardPairs]]; all three are exact-integer ratios rounded
    * once, derived from ONE join (scoring three coefficients costs the
    * same shuffle as scoring one).
    */
  def ngramSimilarityPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String]
  ): DataFrame = {
    val docs = spread(df.select(Seq(col(idCol), col(textCol)) ++ blockCols.map(col): _*))
      .select(
        Seq(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("_ws")) ++
          blockCols.map(col): _*
      )
      .select(
        Seq(col("id"), array_distinct(shinglesFromWords(col("_ws"))).as("sh")) ++
          blockCols.map(col): _*
      )
    val exploded = docs
      .select(
        Seq(col("id"), size(col("sh")).as("sz"), explode_outer(col("sh")).as("s")) ++
          blockCols.map(col): _*
      )
      .filter(col("s").isNotNull)
    val joinCond = blockCols
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.s") === col("b.s") && col("a.id") < col("b.id"))(_ && _)
    val cached = exploded.localCheckpoint()
    cached
      .as("a")
      .join(cached.as("b"), joinCond)
      .groupBy(
        col("a.id").as("id1"),
        col("b.id").as("id2"),
        col("a.sz").as("sza"),
        col("b.sz").as("szb")
      )
      .agg(count(lit(1)).as("common"))
      .select(
        col("id1"),
        col("id2"),
        col("common").cast("long").as("common"),
        round(
          col("common").cast("double") / (col("sza") + col("szb") - col("common")),
          4
        ).as("jaccard"),
        round(
          (lit(2) * col("common")).cast("double") / (col("sza") + col("szb")),
          4
        ).as("dice"),
        round(
          col("common").cast("double") / least(col("sza"), col("szb")),
          4
        ).as("overlap")
      )
  }

  /** Multi-signal dedup SCORECARD — the decision table a keep/drop policy
    * layer reads instead of any single similarity score: for every blocked
    * candidate pair ([[ngramJaccardPairs]]' shingle-sharing pairs within
    * `blockCols`), all four families' verdicts side by side — exact
    * (content digests equal), set (exact shingle Jaccard), sketch
    * (MinHash signature agreement out of `numPerm`), and bitwise
    * (SimHash Hamming distance). Signals DISAGREE in instructive ways
    * (a doc plus its quote superset: Jaccard low, containment-style
    * signals high, exact 0; boilerplate twins: SimHash near 0 while
    * Jaccard middling), and the matrix is what makes the disagreement
    * auditable per pair.
    *
    * Cost shape: each doc's three sketch families compute ONCE into one
    * feature row (digest + 8 minhash slices + 4 simhash band ints — a few
    * dozen bytes), checkpointed, and joined twice by id onto the candidate
    * list; every per-pair signal is then a codegen'd scalar expression.
    * Nothing pairwise ever touches text.
    */
  def signalMatrix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      numPerm: Int = 8,
      rowsPerBand: Int = 2
  ): DataFrame = {
    val pairs = ngramJaccardPairs(df, idCol, textCol, blockCols)
    val sigs = minhashSignatures(df, idCol, textCol, numPerm, rowsPerBand)
      .select(col(idCol) +: (0 until numPerm).map(j => col(s"m$j")): _*)
    val shb = simhash(df, idCol, textCol).select(
      col(idCol) +: (0 until 4).map(b =>
        conv(substring(col("simhash"), b * 16 + 1, 16), 2, 10).cast("long").as(s"sh$b")
      ): _*
    )
    val feats = df
      .select(col(idCol), md5(col(textCol)).as("xh"))
      .join(sigs, Seq(idCol))
      .join(shb, Seq(idCol))
      .localCheckpoint() // three sketch pipelines run once, not once per side
    def side(as: String, p: String) = feats.select(
      col(idCol).as(as) +: (Seq("xh") ++ (0 until numPerm).map(j => s"m$j") ++
        (0 until 4).map(b => s"sh$b")).map(c => col(c).as(s"$p$c")): _*
    )
    val mhMatches = (0 until numPerm)
      .map(j => when(col(s"a_m$j") === col(s"b_m$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val shHamming = (0 until 4)
      .map(b => bit_count(col(s"a_sh$b").bitwiseXOR(col(s"b_sh$b"))))
      .reduce(_ + _)
    pairs
      .join(side("id1", "a_"), "id1")
      .join(side("id2", "b_"), "id2")
      .select(
        col("id1"),
        col("id2"),
        col("jaccard"),
        when(col("a_xh") === col("b_xh"), 1L).otherwise(0L).as("exact_dup"),
        mhMatches.cast("bigint").as("mh_perms"),
        shHamming.cast("bigint").as("sh_hamming")
      )
  }

  /** Asymmetric shingle containment over the same blocked candidate pairs
    * as [[ngramJaccardPairs]]: C(A→B) = |S_A ∩ S_B| / |S_A| — near 1 when A
    * is (close to) a subset of B, which symmetric Jaccard dilutes whenever
    * the sizes differ (the quote-inside-a-bigger-document case). Join and
    * checkpoint shape identical to the Jaccard path; only the final
    * normalization differs, emitted in BOTH directions per pair.
    */
  def ngramContainmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String]
  ): DataFrame = {
    val docs = spread(df.select(Seq(col(idCol), col(textCol)) ++ blockCols.map(col): _*))
      .select(
        Seq(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("_ws")) ++
          blockCols.map(col): _*
      )
      .select(
        Seq(col("id"), array_distinct(shinglesFromWords(col("_ws"))).as("sh")) ++
          blockCols.map(col): _*
      )
    val exploded = docs
      .select(
        Seq(col("id"), size(col("sh")).as("sz"), explode_outer(col("sh")).as("s")) ++
          blockCols.map(col): _*
      )
      .filter(col("s").isNotNull)
    val joinCond = blockCols
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.s") === col("b.s") && col("a.id") < col("b.id"))(_ && _)
    val cached = exploded.localCheckpoint()
    cached
      .as("a")
      .join(cached.as("b"), joinCond)
      .groupBy(
        col("a.id").as("id1"),
        col("b.id").as("id2"),
        col("a.sz").as("sza"),
        col("b.sz").as("szb")
      )
      .agg(count(lit(1)).as("common"))
      .select(
        col("id1"),
        col("id2"),
        round(col("common").cast("double") / col("sza"), 4).as("cont_1in2"),
        round(col("common").cast("double") / col("szb"), 4).as("cont_2in1")
      )
  }

  /** EXACT shingle-set Jaccard self-join ≥ τ via PREFIX FILTERING (the
    * AllPairs/PPJoin family, Bayardo et al. WWW'07) — the third candidate-
    * generation scheme beside MinHash-LSH (probabilistic) and capped shingle
    * blocking: order each document's shingle set by ascending global
    * document frequency (rarest first, ties by shingle), keep only the
    * first  p = |S| − ⌈τ·|S|⌉ + 1  shingles as the PREFIX, and join on
    * prefix shingles. The prefix lemma makes this LOSSLESS: two sets with
    * J ≥ τ overlap in more than |S| − p elements, so they MUST share a
    * prefix element — no recall tradeoff, unlike LSH.
    *
    * Scale shape: candidate fan-out is bounded by prefix-shingle frequency —
    * and prefixes are each document's RAREST shingles (k-word shingles are
    * Zipf-sparse, so boilerplate n-grams — the quadratic blowup of a naive
    * join — never enter a prefix). Document frequency is one partial-agg
    * pass; the per-doc ordering is a doc-keyed window; verification joins
    * only candidate pairs against the exploded shingle table. All
    * arithmetic exact integer ppm. Measured at sf0.1/τ=0.8 with the
    * length + position bounds below: 12,784 candidates for 12.5M possible
    * pairs — 978× pruning at exact recall.
    */
  def prefixFilterPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tauPpm: Long = 500000L,
      shingleK: Int = 3
  ): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    // recompute guard at the DOC level (one array row per doc — the
    // smallest frame that spares re-tokenizing): the shingle-set frame
    // feeds the exploded df/prefix path AND the verification join.
    // The checkpoint sits BEFORE the size()/filter projection: deriving
    // `sz` from the un-materialized alias makes CollapseProject re-inline
    // the whole shingle lambda (each element_at re-splitting the text —
    // measured 8 s vs 0.5 s on the sf0.1 corpus, the shinglesFromWords
    // scaladoc trap); size() over the materialized array is free.
    val docs = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("_ws"))
      .select(col("id"), array_distinct(shinglesFromWords(col("_ws"), shingleK)).as("ws"))
      .localCheckpoint()
      .select(col("id"), col("ws"), size(col("ws")).as("sz"))
      .filter(col("sz") > 0)
    // one row per (doc, distinct shingle); explode_outer + isNotNull (not a
    // bare explode) — see ngramJaccardPairs' InferFiltersFromGenerate note.
    val tok = docs
      .select(col("id"), col("sz"), explode_outer(col("ws")).as("t"))
      .filter(col("t").isNotNull)
    val dfreq = tok.groupBy("t").agg(count(lit(1)).as("df"))
    val ranked = tok
      .join(dfreq, "t")
      .withColumn("pos", row_number().over(W.partitionBy("id").orderBy(col("df"), col("t"))))
    val prefix = ranked
      .filter(col("pos") <= expr(s"sz - ((sz * ${tauPpm}L + 999999L) div 1000000L) + 1"))
      .select("id", "t", "pos", "sz")
      .localCheckpoint()
    // Two PPJoin candidate bounds, both necessary conditions for J ≥ τ so
    // dropping failures keeps the join lossless:
    //  - LENGTH: |∩| ≤ min and |∪| ≥ max force τ·max ≤ min — size-mismatched
    //    pairs can never qualify;
    //  - POSITION: J ≥ τ ⟺ |∩| ≥ ⌈τ·(sza+szb)/(1+τ)⌉, and a match at
    //    df-order positions (posa, posb) caps the overlap at
    //    1 + min(sza − posa, szb − posb) (everything before either position
    //    is exhausted) — matches too deep into both prefixes can't reach
    //    the required overlap.
    val need = s"(${tauPpm}L * (a.sz + b.sz) + ${1000000L + tauPpm - 1L}L) " +
      s"div ${1000000L + tauPpm}L"
    val cands = prefix
      .as("a")
      .join(
        prefix.as("b"),
        col("a.t") === col("b.t") && col("a.id") < col("b.id") &&
          col("a.sz") * lit(tauPpm) <= col("b.sz") * lit(1000000L) &&
          col("b.sz") * lit(tauPpm) <= col("a.sz") * lit(1000000L) &&
          expr(s"1L + least(a.sz - a.pos, b.sz - b.pos) >= $need")
      )
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    // verification: two id-keyed joins attach the candidate docs' shingle
    // ARRAYS, one codegen'd array_intersect per pair — candidate-count rows
    // through the shuffle (vs candidate×set-size for an exploded re-join)
    cands
      .join(docs.as("da"), col("id1") === col("da.id"))
      .join(docs.as("db"), col("id2") === col("db.id"))
      .select(
        col("id1"),
        col("id2"),
        size(array_intersect(col("da.ws"), col("db.ws"))).cast("long").as("common"),
        col("da.sz").as("sza"),
        col("db.sz").as("szb")
      )
      .withColumn("jac_ppm", expr("common * 1000000L div (sza + szb - common)").cast("long"))
      .filter(col("jac_ppm") >= tauPpm)
      .select(col("id1"), col("id2"), col("common"), col("jac_ppm"))
  }

  /** Persist the corpus's MinHash LSH band keys as a parquet index — one
    * (id, band) row per document per band, directory-partitioned by a
    * 16-way hash prefix of the band key (md5 band keys are
    * high-cardinality, so partitioning by the key itself — the E123 LSH
    * layout, viable there because hyperplane buckets number 2^bits — would
    * explode the directory count; the prefix bounds it at 16 while keeping
    * same-band rows colocated for the incremental join's scan).
    *
    * This is the state that makes near-dup dedup INCREMENTAL: a daily batch
    * is signed once and paired against these persisted bands
    * ([[incrementalNearDupPairs]]) instead of re-signing and re-joining the
    * whole corpus — the O(delta)-per-ingest shape. After accepting a batch,
    * fold its bands in with [[appendMinhashIndex]] so tomorrow's batch sees
    * it; signatures never need recomputing because MinHash is
    * content-functional. The outer `ingest_id` partition level (0 for the
    * initial build, the ingest's own id thereafter) is what makes appends
    * REPLAY-IDEMPOTENT: a re-run of the same ingest dynamically overwrites
    * its own partition instead of duplicating rows.
    */
  def buildMinhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numPerm: Int = 8,
      rowsPerBand: Int = 2,
      fast: Boolean = false
  ): Unit = {
    minhashBandRows(df, idCol, textCol, numPerm, rowsPerBand, fast)
      .withColumn("ingest_id", lit(0L))
      .write
      .mode("overwrite")
      .partitionBy("ingest_id", "band_pfx")
      .parquet(path)
    ParquetIO.invalidate(path) // full rebuild may replace a read path
  }

  /** Fold one accepted ingest's band keys into a [[buildMinhashIndex]]
    * index. Dynamic partition overwrite on the ingest's own `ingest_id`
    * partition makes the call idempotent under replay — the at-least-once
    * retry a streaming `foreachBatch` (or a re-run daily job) performs
    * replaces its previous partial output rather than appending a second
    * copy. Use ids > 0 (0 is the initial build's partition).
    */
  def appendMinhashIndex(
      df: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      ingestId: Long,
      numPerm: Int = 8,
      rowsPerBand: Int = 2,
      fast: Boolean = false
  ): Unit = {
    require(ingestId > 0L, s"ingest ids start at 1 (0 is the initial build), got $ingestId")
    minhashBandRows(df, idCol, textCol, numPerm, rowsPerBand, fast)
      .withColumn("ingest_id", lit(ingestId))
      .write
      .mode("overwrite")
      .option("partitionOverwriteMode", "dynamic") // replace ONLY this ingest's partition
      .partitionBy("ingest_id", "band_pfx")
      .parquet(path)
  }

  /** Delete documents from a [[buildMinhashIndex]] index — the
    * right-to-be-forgotten flow: after this, [[incrementalNearDupPairs]]
    * can no longer pair anything against the deleted ids, which is the
    * auditable property a takedown needs (matching FUTURE ingests against
    * deleted content would re-disclose it). Rewrites the surviving rows in
    * place: the survivor frame is materialized (localCheckpoint) BEFORE
    * the overwrite because Spark reads lazily — overwriting the path under
    * an un-materialized self-read is the classic self-overwrite
    * corruption. Cost is one index rewrite; when deletions are
    * ingest-scoped, filter the read to the affected `ingest_id` partitions
    * first and the rewrite touches only those.
    */
  def deleteFromMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      ids: DataFrame,
      path: String
  ): Unit = {
    val survivors = ParquetIO.read(spark, path)
      .join(ids.toDF("id"), Seq("id"), "left_anti")
      .localCheckpoint()
    survivors.write
      .mode("overwrite")
      .partitionBy("ingest_id", "band_pfx")
      .parquet(path)
    ParquetIO.invalidate(path) // in-place rewrite: drop any memoized schema
  }

  /** Persist the cluster-resolution state (`id`, `cluster_id`) that
    * [[incrementalClusters]] maintains — the third piece of persisted dedup
    * state beside the band index and the span index. Partitioned 16 ways by
    * a cluster-id hash prefix (bounded directory layout; co-locates each
    * cluster's members for the relabel join). Rows are two longs, so even a
    * 100 TB corpus's state is metadata-scale next to its text.
    */
  def writeClusterState(clusters: DataFrame, idCol: String, clusterCol: String, path: String): Unit = {
    clusters
      .select(col(idCol).as("id"), col(clusterCol).as("cluster_id"))
      .withColumn("cl_pfx", pmod(xxhash64(col("cluster_id")), lit(16)))
      .write
      .mode("overwrite")
      .partitionBy("cl_pfx")
      .parquet(path)
    ParquetIO.invalidate(path) // may overwrite a previously-read state path
  }

  /** Incremental CLUSTER maintenance — the missing stage after
    * [[incrementalNearDupPairs]]: that call finds a new batch's near-dup
    * PAIRS in O(batch), but a keep-policy needs canonical cluster ids, and
    * re-running [[dedupClusters]] over corpus ∪ batch would re-sign and
    * re-cluster the whole corpus per ingest. This maintains the persisted
    * assignment instead, with all per-ingest text work O(batch):
    *
    *  1. batch pairs come from the band index ([[incrementalNearDupPairs]] —
    *     the only text pass, O(batch));
    *  2. each pair endpoint is CONTRACTED to its current label (batch ids
    *     label themselves; corpus ids map to their persisted `cluster_id` —
    *     fetched with a broadcast semi-join, so the state table is scanned
    *     once and never shuffled);
    *  3. [[connectedComponents]] runs on the contracted graph — nodes are
    *     batch ids plus the touched corpus cluster ids, a graph bounded by
    *     the batch's candidate fan-out, not the corpus;
    *  4. the fixpoint labels broadcast back: batch docs adopt their node's
    *     component, corpus docs relabel only where their cluster id merged
    *     (broadcast left join + coalesce — one more single state scan).
    *
    * Contracting a corpus component to its min-id label preserves both
    * connectivity and the component minimum, so the result is EXACTLY
    * `dedupClusters(corpus ∪ batch)`'s assignment (pinned in
    * PipelineOpsSpec, including a chimera batch doc that bridges two
    * existing clusters into one). Batch ids must be fresh — an id already
    * in the state would alias an existing node.
    *
    * @return (id, cluster_id) for corpus ∪ batch — the next state; persist
    *         with [[writeClusterState]] to complete the ingest. The rewrite
    *         is corpus-sized but two-long rows; the expensive signing and
    *         clustering stayed O(batch). Callers tracking only the delta can
    *         subtract: rows whose label changed are batch rows plus members
    *         of merged clusters.
    */
  def incrementalClusters(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      bandIndexPath: String,
      clusterStatePath: String,
      numPerm: Int = 8,
      rowsPerBand: Int = 2,
      fast: Boolean = false,
      maxBandDf: Long = AutoBandDf
  ): DataFrame =
    incrementalClustersFromPairs(
      batch.select(col(idCol).as("id")),
      incrementalNearDupPairs(
        batch, idCol, textCol, bandIndexPath, numPerm, rowsPerBand, fast, maxBandDf
      ).select("id1", "id2"),
      clusterStatePath
    )

  /** The perceptual member of the incremental-cluster family: maintain a
    * persisted cluster assignment over 64-bit sketches (image dHash, audio
    * energy hash, SimHash) — batch pairs come from the Hamming sketch index
    * ([[incrementalHammingPairs]]), clusters from the same label-space
    * contraction as [[incrementalClusters]]. Per-ingest media decode +
    * hashing stays O(batch); the corpus is never re-hashed or re-clustered.
    */
  def incrementalHammingClusters(
      batchSketches: DataFrame,
      idCol: String,
      bitsCol: String,
      indexPath: String,
      clusterStatePath: String,
      maxHamming: Int = 3
  ): DataFrame =
    incrementalClustersFromPairs(
      batchSketches.select(col(idCol).as("id")),
      incrementalHammingPairs(batchSketches, idCol, bitsCol, indexPath, maxHamming)
        .select("id1", "id2"),
      clusterStatePath
    )

  /** The shared contraction engine behind [[incrementalClusters]] and
    * [[incrementalHammingClusters]] — public because ANY incremental pair
    * source with a persisted assignment (embedding bucket pairs, a custom
    * blocker) composes the same way. `pairs` must be the batch-touching
    * pair set; `batchIds` the batch's id column; ids must be fresh w.r.t.
    * the state.
    */
  def incrementalClustersFromPairs(
      batchIds: DataFrame,
      pairs: DataFrame,
      clusterStatePath: String
  ): DataFrame = {
    val spark = batchIds.sparkSession
    val p = pairs.toDF("id1", "id2")
      .localCheckpoint() // endpoints, contraction, and CC all reuse the pair set
    val bIds = batchIds.toDF("id")
    val state = ParquetIO.read(spark, clusterStatePath).select(col("id"), col("cluster_id"))
    // touched state rows only: endpoint ids are batch-bounded, so the big
    // state table is reduced with one broadcast semi-join scan — no shuffle
    val endpoints = p
      .select(col("id1").as("id"))
      .union(p.select(col("id2").as("id")))
      .distinct()
    val touched = state.join(broadcast(endpoints), Seq("id")).localCheckpoint()
    val contracted = p
      .join(broadcast(touched.select(col("id").as("id1"), col("cluster_id").as("_c1"))),
        Seq("id1"), "left")
      .join(broadcast(touched.select(col("id").as("id2"), col("cluster_id").as("_c2"))),
        Seq("id2"), "left")
      .select(
        coalesce(col("_c1"), col("id1")).as("s"),
        coalesce(col("_c2"), col("id2")).as("d")
      )
    val nodes = bIds
      .union(touched.select(col("cluster_id").as("id")))
      .distinct()
    val cc = connectedComponents(contracted, nodes).localCheckpoint() // label-space fixpoint, tiny
    val batchAssign = bIds
      .join(broadcast(cc.toDF("nid", "comp")), col("id") === col("nid"))
      .select(col("id"), col("comp").as("cluster_id"))
    // corpus relabel: only merged cluster ids appear in the map, so the
    // untouched corpus (virtually all of it) passes through the coalesce
    val relabel = cc.toDF("cluster_id", "_newc").filter(col("cluster_id") =!= col("_newc"))
    val corpusAssign = state
      .join(broadcast(relabel), Seq("cluster_id"), "left")
      .select(col("id"), coalesce(col("_newc"), col("cluster_id")).as("cluster_id"))
    corpusAssign.unionByName(batchAssign)
  }

  /** Near-dup DECONTAMINATION against a persisted band index — benchmark
    * leakage checking at the scale the exact 13-gram check
    * (Curation.decontaminate) cannot run: the benchmark set is small
    * (thousands of eval documents), the training corpus is 100 TB, so the
    * right plan signs the BENCHMARK (the only text pass — O(bench)),
    * broadcasts its band keys, and equi-joins them against the corpus's
    * already-persisted band index. The corpus's text is never touched and
    * the index is scanned once with no shuffle; only band-matched
    * candidates reach the aggregate. Near-dup banding catches the
    * paraphrased/reformatted benchmark copies an exact n-gram match misses.
    *
    * @return (id, n_bench_matches) — one row per CONTAMINATED corpus
    *         document (band-matched by ≥1 benchmark doc), with the count of
    *         distinct benchmark documents it matched. Anti-join the ids
    *         against the corpus to drop them.
    */
  def decontaminateByIndex(
      bench: DataFrame,
      benchIdCol: String,
      benchTextCol: String,
      indexPath: String,
      numPerm: Int = 8,
      rowsPerBand: Int = 2,
      fast: Boolean = false
  ): DataFrame = {
    val nBands = numPerm / rowsPerBand
    val benchBands = minhashSignatures(bench, benchIdCol, benchTextCol, numPerm, rowsPerBand, fast)
      .select(
        col(benchIdCol).as("bench_id"),
        explode(array((0 until nBands).map(b => col(s"band$b")): _*)).as("band")
      )
    val indexed = ParquetIO.read(bench.sparkSession, indexPath)
      .select(col("id"), col("band"))
    indexed
      .join(broadcast(benchBands), "band")
      .groupBy(col("id"))
      .agg(countDistinct(col("bench_id")).as("n_bench_matches"))
  }

  /** Compact a [[buildMinhashIndex]] index after a run of
    * [[appendMinhashIndex]] ingests: every accepted batch added its own
    * `ingest_id=<k>` partition (the price of replay-idempotent appends), so
    * a long-running ingest loop accumulates many small files and many
    * directories — the classic streaming-sink small-file problem, here on
    * the index itself. Rewrites all rows into the initial build's single
    * `ingest_id=0` layout; band semantics are untouched, so pairing before
    * ≡ after (pinned in PipelineOpsSpec along with the file-count drop).
    * The survivor frame is materialized before the in-place overwrite
    * (self-overwrite guard). Run between ingests; the next append starts a
    * fresh ingest_id sequence.
    */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit =
    IndexMaintenance.compact(spark, path, Seq("ingest_id", "band_pfx"))

  /** Operational health read of a [[buildMinhashIndex]] index — the numbers
    * an operator checks before picking [[incrementalNearDupPairs]]'s
    * `maxBandDf` hot-band cap and before deciding a [[compactMinhashIndex]]
    * run: row/doc/band cardinalities plus the band-frequency tail (max df
    * and how many band keys sit at df ≥ 2 / ≥ 8 — the keys that drive
    * candidate fan-out). TWO column-pruned scans of the index — the band
    * rollup and the distinct-doc count — joined into one summary row:
    * folding both into a single pass needs a grouping-sets Expand that
    * pushes every row through the shuffle twice, which costs more than the
    * second parquet read of a one/two-column ReadSchema.
    */
  def minhashIndexStats(spark: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val idx = ParquetIO.read(spark, path)
    val bandSummary = idx
      .groupBy(col("band"))
      .agg(count(lit(1)).as("_df"))
      .agg(
        sum(col("_df")).cast("long").as("n_rows"),
        count(lit(1)).cast("long").as("n_bands"),
        max(col("_df")).cast("long").as("max_band_df"),
        sum(when(col("_df") >= 2, 1L).otherwise(0L)).cast("long").as("bands_df_ge_2"),
        sum(when(col("_df") >= 8, 1L).otherwise(0L)).cast("long").as("bands_df_ge_8")
      )
    bandSummary.crossJoin(
      idx.agg(countDistinct(col("id")).cast("long").as("n_docs"))
    )
  }

  /** Cluster resolution straight FROM a persisted band index — the state
    * bootstrap for a corpus whose [[buildMinhashIndex]] index already
    * exists: candidate pairs are the index's band self-join (identical to
    * [[minhashCandidatePairs]] by construction — the bands ARE the
    * signatures), so seeding [[incrementalClusters]]' state costs one
    * index read instead of a second full signing pass over corpus text.
    * ≡ `dedupClusters(corpus)` assignment (pinned in PipelineOpsSpec).
    */
  def clustersFromMinhashIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String
  ): DataFrame = {
    val bands = ParquetIO.read(spark, path)
      .select(col("id"), col("band"))
      .localCheckpoint() // one index read feeds both self-join branches + nodes
    val pairs = bands
      .join(bands.select(col("id").as("_id2"), col("band")), "band")
      .filter(col("id") < col("_id2"))
      .select(col("id").as("id1"), col("_id2").as("id2"))
      .distinct()
    connectedComponents(pairs, bands.select(col("id")).distinct())
      .select(col("id"), col("comp").as("cluster_id"))
  }

  /** Repair a persisted cluster state after right-to-be-forgotten deletions
    * — the step [[deleteFromMinhashIndex]] alone cannot provide, because
    * deletion changes CLUSTER STRUCTURE in two ways a pass-through state
    * would get wrong: a deleted doc may have been the only BRIDGE between
    * its cluster's remaining members (the cluster must SPLIT), and the
    * canonical label is the component's min id, which retires with the
    * deleted doc (survivors must RELABEL). Re-clustering the corpus would
    * be O(corpus); this repairs exactly the affected clusters:
    *
    *  1. affected labels = clusters containing a deleted id (broadcast
    *     semi-join on the state — one scan, no shuffle);
    *  2. surviving members of those clusters re-pair through their bands
    *     READ FROM THE POST-DELETION INDEX — no text access, and the join
    *     is restricted to the affected member set;
    *  3. connected components over that small graph re-resolves splits and
    *     minima; unaffected clusters pass through untouched.
    *
    * Call AFTER [[deleteFromMinhashIndex]] (the band read must not see
    * deleted rows). Result ≡ `dedupClusters(corpus ∖ deleted)` — pinned in
    * PipelineOpsSpec including a chimera-bridge deletion that splits a
    * 3-member cluster, and by the `dedup_forget_repair` driver entry's
    * monolithic post-deletion twin. Persist with [[writeClusterState]].
    */
  def repairClusterState(
      spark: org.apache.spark.sql.SparkSession,
      deletedIds: DataFrame,
      indexPath: String,
      clusterStatePath: String
  ): DataFrame =
    repairClusterStateWith(spark, deletedIds, clusterStatePath) { members =>
      val bands = ParquetIO.read(spark, indexPath)
        .join(broadcast(members), Seq("id"))
        .select(col("id"), col("band"))
        .localCheckpoint()
      bands
        .join(bands.select(col("id").as("_id2"), col("band")), "band")
        .filter(col("id") < col("_id2"))
        .select(col("id").as("id1"), col("_id2").as("id2"))
        .distinct()
    }

  /** [[repairClusterState]] for the PERCEPTUAL family: surviving members
    * of affected clusters re-pair through their stored band integers in a
    * [[buildHammingIndex]] index (post-deletion — run
    * `IndexMaintenance.deleteRows` first), with exact Hamming verification
    * on the candidates. Result ≡ `hammingClusters(sketches ∖ deleted)` —
    * bridge-split and relabel pinned in PipelineOpsSpec.
    */
  def repairHammingClusterState(
      spark: org.apache.spark.sql.SparkSession,
      deletedIds: DataFrame,
      indexPath: String,
      clusterStatePath: String,
      maxHamming: Int = 3
  ): DataFrame =
    repairClusterStateWith(spark, deletedIds, clusterStatePath) { members =>
      val rows = ParquetIO.read(spark, indexPath)
        .join(broadcast(members), Seq("id"))
        .select(col("id") +: (0 until 4).map(b => col(s"i$b")): _*)
        .localCheckpoint()
      val banded = rows.select(
        (col("id") +: (0 until 4).map(b => col(s"i$b"))) :+
          posexplode(array((0 until 4).map(b => col(s"i$b")): _*)).as(Seq("_band", "_bv")): _*
      )
      banded
        .join(
          banded.select(
            (col("id").as("_id2") +: (0 until 4).map(b => col(s"i$b").as(s"j$b"))) :+
              col("_band") :+ col("_bv"): _*),
          Seq("_band", "_bv"))
        .filter(col("id") < col("_id2"))
        .select(
          col("id").as("id1"),
          col("_id2").as("id2"),
          (0 until 4)
            .map(b => bit_count(col(s"i$b").bitwiseXOR(col(s"j$b"))))
            .reduce(_ + _)
            .as("_ham")
        )
        .filter(col("_ham") <= maxHamming)
        .select("id1", "id2")
        .distinct()
    }

  /** Runtime guard for the incremental family's id-freshness contract:
    * every batch id must be absent from the persisted state, because an id
    * collision silently ALIASES an existing node in the label contraction
    * and corrupts the assignment without any error. One broadcast
    * semi-join count — cheap next to any ingest — throwing with the first
    * few offenders. Call it in an ingest loop's validation step; the
    * operators themselves stay unguarded so a trusted pipeline pays
    * nothing.
    */
  def assertFreshIds(
      spark: org.apache.spark.sql.SparkSession,
      batchIds: DataFrame,
      clusterStatePath: String
  ): Unit = {
    val clash = ParquetIO.read(spark, clusterStatePath)
      .select(col("id"))
      .join(broadcast(batchIds.toDF("id")), Seq("id"))
      .limit(5)
      .collect()
      .map(_.getLong(0))
    if (clash.nonEmpty)
      throw new IllegalArgumentException(
        s"batch ids already present in cluster state at $clusterStatePath: " +
          clash.mkString(", ") + " — colliding ids alias existing cluster nodes"
      )
  }

  /** Audit diff between two persisted cluster states — the "what did this
    * ingest / takedown actually change" read over [[writeClusterState]]
    * snapshots (e.g. two rungs of the streaming loop's versioned ladder):
    * one full-outer join of two two-long-column tables, emitting ONLY the
    * changed rows — batch arrivals (`added`), forgotten docs (`removed`),
    * and survivors whose canonical label moved (`relabeled`, the signature
    * of a merge or a post-deletion repair). Output is delta-sized; −1
    * sentinels mark the absent side.
    */
  def clusterStateDiff(
      spark: org.apache.spark.sql.SparkSession,
      oldPath: String,
      newPath: String
  ): DataFrame = {
    val o = ParquetIO.read(spark, oldPath).select(col("id"), col("cluster_id").as("_old"))
    val n = ParquetIO.read(spark, newPath).select(col("id"), col("cluster_id").as("_new"))
    o.join(n, Seq("id"), "full_outer")
      .filter(col("_old").isNull || col("_new").isNull || col("_old") =!= col("_new"))
      .select(
        col("id"),
        coalesce(col("_old"), lit(-1L)).as("old_cluster_id"),
        coalesce(col("_new"), lit(-1L)).as("new_cluster_id"),
        when(col("_old").isNull, "added")
          .when(col("_new").isNull, "removed")
          .otherwise("relabeled")
          .as("change")
      )
  }

  /** The deletion-repair core shared by every index family: affected
    * labels → surviving members (both broadcast-bounded state scans) →
    * caller-supplied pairs among those members (from the family's
    * POST-DELETION index) → connected components → merge with the
    * untouched state. Public for the same reason as
    * [[incrementalClustersFromPairs]]: any family with a persisted pair
    * source composes the same way (`Similarity.clustersFromLshIndex`'s
    * pair derivation serves the vector index).
    */
  def repairClusterStateWith(
      spark: org.apache.spark.sql.SparkSession,
      deletedIds: DataFrame,
      clusterStatePath: String
  )(pairsOf: DataFrame => DataFrame): DataFrame = {
    val del = deletedIds.toDF("id")
    val state = ParquetIO.read(spark, clusterStatePath).select(col("id"), col("cluster_id"))
    val affectedLabels = state
      .join(broadcast(del), Seq("id"))
      .select(col("cluster_id"))
      .distinct()
      .localCheckpoint()
    // surviving members of affected clusters — deletion-bounded, tiny
    val members = state
      .join(broadcast(affectedLabels), Seq("cluster_id"))
      .join(broadcast(del), Seq("id"), "left_anti")
      .select(col("id"))
      .localCheckpoint()
    val repaired = connectedComponents(pairsOf(members), members)
      .select(col("id"), col("comp").as("cluster_id"))
    state
      .join(broadcast(affectedLabels), Seq("cluster_id"), "left_anti")
      .select(col("id"), col("cluster_id"))
      .unionByName(repaired)
  }

  private def minhashBandRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numPerm: Int,
      rowsPerBand: Int,
      fast: Boolean
  ): DataFrame = {
    val nBands = numPerm / rowsPerBand
    minhashSignatures(df, idCol, textCol, numPerm, rowsPerBand, fast)
      .select(
        col(idCol).as("id"),
        explode(array((0 until nBands).map(b => col(s"band$b")): _*)).as("band")
      )
      .withColumn("band_pfx", pmod(xxhash64(col("band")), lit(16)))
  }

  /** Persist 64-bit sketches (any [[hammingBandPairs]]-compatible bitstring
    * column — SimHash, image dHash, audio energy hash) as a parquet index:
    * one row per id carrying the 4 16-bit band integers, partitioned by the
    * first band's low nibble (16 dirs — bounded layout, same rationale as
    * [[buildMinhashIndex]]'s prefix). The bands ARE the sketch (concatenated
    * they reconstruct all 64 bits), so the index serves both candidate
    * blocking and exact Hamming verification without any other state —
    * what makes PERCEPTUAL dedup incremental: media decode + hashing (the
    * expensive per-payload work) happens once per asset, ever.
    */
  def buildHammingIndex(
      sketches: DataFrame,
      idCol: String,
      bitsCol: String,
      path: String
  ): Unit = {
    sketches
      .select(
        col(idCol).as("id") +: (0 until 4).map(b =>
          conv(substring(col(bitsCol), b * 16 + 1, 16), 2, 10).cast("long").as(s"i$b")
        ): _*
      )
      .withColumn("band_pfx", pmod(col("i0"), lit(16)))
      .write
      .mode("overwrite")
      .partitionBy("band_pfx")
      .parquet(path)
    ParquetIO.invalidate(path) // full rebuild may replace a read path
  }

  /** Near-dup pairs of a NEW batch of sketches against a corpus indexed by
    * [[buildHammingIndex]]: the batch's sketches (computed once, O(batch))
    * band-join against the persisted bands unioned with their own, exact
    * Hamming verifies candidates, pairs normalize/dedup as in
    * [[hammingBandPairs]] — corpus-internal pairs are not re-reported.
    * Broadcast batch side, single index scan, candidate-bounded exchange:
    * the same O(delta)-per-ingest shape as [[incrementalNearDupPairs]],
    * for the perceptual family.
    */
  def incrementalHammingPairs(
      batch: DataFrame,
      idCol: String,
      bitsCol: String,
      path: String,
      maxHamming: Int = 3
  ): DataFrame = {
    val bb = batch
      .select(
        col(idCol).as("bid") +: (0 until 4).map(b =>
          conv(substring(col(bitsCol), b * 16 + 1, 16), 2, 10).cast("long").as(s"b$b")
        ): _*
      )
      .localCheckpoint() // sketch pipeline runs once, not once per join branch
    val idx = ParquetIO.read(batch.sparkSession, path)
      .select(col("id").as("nid") +: (0 until 4).map(b => col(s"i$b").as(s"n$b")): _*)
    val all = idx.unionByName(
      bb.select(col("bid").as("nid") +: (0 until 4).map(b => col(s"b$b").as(s"n$b")): _*))
    val bandedBatch = bb.select(
      (col("bid") +: (0 until 4).map(b => col(s"b$b"))) :+
        posexplode(array((0 until 4).map(b => col(s"b$b")): _*)).as(Seq("_band", "_bv")): _*
    )
    val bandedAll = all.select(
      (col("nid") +: (0 until 4).map(b => col(s"n$b"))) :+
        posexplode(array((0 until 4).map(b => col(s"n$b")): _*)).as(Seq("_band", "_bv")): _*
    )
    broadcast(bandedBatch)
      .join(bandedAll, Seq("_band", "_bv"))
      .filter(col("bid") =!= col("nid"))
      .select(
        least(col("bid"), col("nid")).as("id1"),
        greatest(col("bid"), col("nid")).as("id2"),
        (0 until 4)
          .map(b => bit_count(col(s"b$b").bitwiseXOR(col(s"n$b"))))
          .reduce(_ + _)
          .cast("bigint")
          .as("hamming")
      )
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Near-dup candidate pairs of a NEW batch against a corpus indexed by
    * [[buildMinhashIndex]], without touching corpus text: sign the batch
    * (the only text pass — O(batch)), then band-equi-join the batch's band
    * keys against the persisted bands unioned with the batch's own (so
    * batch-internal duplicates surface too). Pairs are normalized
    * (id1 < id2) and deduplicated across bands; corpus-internal pairs are
    * NOT re-reported — they were found when the corpus itself was ingested.
    *
    * Scale shape: the batch side is broadcast (a daily delta is small next
    * to the corpus), so the index is scanned once with no shuffle — only
    * the candidate pairs (banding-bounded, never all-pairs) reach the
    * distinct's exchange. Equivalence with the monolithic path — these
    * pairs ≡ [[minhashCandidatePairs]] over corpus ∪ batch restricted to
    * batch-touching pairs — is pinned in PipelineOpsSpec; the
    * `dedup_incremental_near` driver entry replays sign → band → join in
    * DuckDB by hash.
    */
  def incrementalNearDupPairs(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      numPerm: Int = 8,
      rowsPerBand: Int = 2,
      fast: Boolean = false,
      maxBandDf: Long = AutoBandDf
  ): DataFrame = {
    val nBands = numPerm / rowsPerBand
    // one row per doc per band after the signature aggregate; checkpointed
    // for the same reason as minhashCandidatePairs — both join branches
    // reuse it without re-running the shingle/digest pipeline
    val batchBands = minhashSignatures(batch, idCol, textCol, numPerm, rowsPerBand, fast)
      .select(
        col(idCol).as("bid"),
        explode(array((0 until nBands).map(b => col(s"band$b")): _*)).as("band")
      )
      .localCheckpoint()
    val indexed = ParquetIO.read(batch.sparkSession, path)
      .select(col("id").as("nid"), col("band"))
    val allBands = indexed.unionByName(batchBands.select(col("bid").as("nid"), col("band")))
    // Hot-band cap — the skew guard for boilerplate-saturated corpora: a
    // band key shared by d documents fans the join out d ways PER BATCH
    // MEMBER carrying it, so one million-document boilerplate band turns a
    // daily ingest into a million-row-per-doc candidate storm. Bands with
    // df > maxBandDf are dropped BEFORE the join (one band-keyed partial
    // agg over index ∪ batch; the hot set is a handful of keys, broadcast
    // into an anti-join). Recall loss is bounded and biased the right way:
    // a pair is missed only if EVERY band the two docs share is corpus-hot
    // — with b independent bands, near-dups whose overlap is genuine (not
    // boilerplate) virtually always share a non-hot band. Default
    // [[AutoBandDf]] sizes the cap from |index ∪ batch| (one distinct-id
    // count, only paid in auto mode); Long.MaxValue = exact mode.
    val cap = resolveBandCap(
      maxBandDf, allBands.select("nid").distinct().count())
    val joinable =
      if (cap == Long.MaxValue) allBands
      else {
        // hot keys are a handful by construction — collect once and filter
        // (the anti-join form would recompute the df agg on the probe side)
        val hot = allBands
          .groupBy("band")
          .agg(count(lit(1)).as("_df"))
          .filter(col("_df") > cap)
          .select("band")
          .limit(10001)
          .collect()
          .map(_.get(0))
        // no silent caps (see minhashCandidatePairs)
        if (hot.nonEmpty)
          System.err.println(
            s"[dedup] incremental-index hot-band cap (df > $cap) dropped " +
              (if (hot.length > 10000) ">10000" else hot.length.toString) +
              " band key(s) before the probe join " +
              "(pass maxBandDf = Long.MaxValue for exact banding)")
        if (hot.isEmpty) allBands
        else if (hot.length > 10000)
          allBands.join(
            broadcast(allBands.groupBy("band").agg(count(lit(1)).as("_df"))
              .filter(col("_df") > cap).select("band")),
            Seq("band"), "left_anti")
        else allBands.filter(!col("band").isin(hot.toIndexedSeq: _*))
      }
    broadcast(batchBands)
      .join(joinable, "band")
      .filter(col("bid") =!= col("nid"))
      .select(
        least(col("bid"), col("nid")).as("id1"),
        greatest(col("bid"), col("nid")).as("id2")
      )
      .distinct()
  }

  /** Golden-record construction (MDM survivorship) over resolved near-dup
    * clusters — after dedup finds that k records describe the same thing,
    * something must DECIDE what the one surviving record says. Classic
    * survivorship rules, each a deterministic total order so the golden
    * record is a pure function of the cluster:
    *
    *   - canonical content: the member with the MOST content wins
    *     (`lenCol` DESC, id ASC) — richest-record-wins; its id, length and
    *     an md5 witness of its `textCol` are reported
    *   - categorical attributes (`modeCols`): the cluster MODE
    *     (count DESC, value ASC) — most-frequent-wins with a stable tie
    *
    * One cluster-keyed join attaches assignments, then one keyed window
    * (canonical pick) and one (cluster, value) partial agg + keyed window
    * per mode column — every shuffle keyed by cluster, state bounded by
    * cluster×distinct-value. Compose with [[dedupClusters]] /
    * [[hammingClusters]] / incremental cluster states — any (id,
    * cluster_id) frame works.
    */
  def goldenRecords(
      records: DataFrame,
      idCol: String,
      textCol: String,
      lenCol: String,
      modeCols: Seq[String],
      clusters: DataFrame
  ): DataFrame = {
    val m = records
      .join(clusters.select(col(idCol), col("cluster_id")), Seq(idCol))
      .localCheckpoint() // canonical pick + per-mode aggs + census all read it
    val wCanon = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col(lenCol).desc, col(idCol))
    val canon = m
      .withColumn("_rn", row_number().over(wCanon))
      .filter(col("_rn") === 1)
      .select(
        col("cluster_id"),
        col(idCol).as("canon_id"),
        col(lenCol).cast("long").as("canon_len"),
        md5(col(textCol)).as("canon_md5")
      )
    val census = m.groupBy("cluster_id").agg(count(lit(1)).cast("long").as("n_members"))
    modeCols
      .foldLeft(census.join(canon, Seq("cluster_id"))) { (acc, c) =>
        val wMode = org.apache.spark.sql.expressions.Window
          .partitionBy("cluster_id")
          .orderBy(col("_c").desc, col(c))
        val top = m
          .groupBy(col("cluster_id"), col(c))
          .agg(count(lit(1)).as("_c"))
          .withColumn("_rn", row_number().over(wMode))
          .filter(col("_rn") === 1)
          .select(col("cluster_id"), col(c).as(s"top_$c"))
        acc.join(top, Seq("cluster_id"))
      }
  }

  /** Prefix-filtered EXACT set-similarity self-join (AllPairs / PPJoin
    * family, Bayardo et al. WWW'07 / Xiao et al. WWW'08): every pair of
    * documents with shingle-Jaccard ≥ τ, with NO recall loss and NO
    * equi-blocking columns — the lossless alternative to both the
    * (lang, source)-blocked exact join ([[ngramJaccardPairs]], which misses
    * cross-block near-dups by construction) and banded MinHash
    * ([[minhashCandidatePairs]], which misses pairs probabilistically).
    *
    * The filter: order each doc's shingles by GLOBAL rarity (corpus df asc,
    * shingle asc — one total order both engines agree on), and keep only the
    * first |X| − ⌈τ·|X|⌉ + 1 as the doc's PREFIX. Theorem: if
    * J(A,B) ≥ τ then |A∩B| ≥ ⌈τ·(|A|+|B|)/(1+τ)⌉ ≥ ⌈τ·max(|A|,|B|)⌉, and
    * two sets whose overlap is ≥ α must collide inside their first
    * |X| − α + 1 elements of ANY shared total order — so every qualifying
    * pair shares a PREFIX shingle and the equi-join on prefix tokens loses
    * nothing. Candidates then pass the length filter
    * (τ·|A| ≤ |B| ≤ |A|/τ, exact integers) and exact array-intersect
    * verification; survivors report the exact-ppm Jaccard.
    *
    * Scale shape: prefix tokens are the RAREST shingles of each doc, so the
    * candidate equi-join fans out by the df of rare tokens — at τ = 0.6 the
    * prefix is ~40% of the doc and skips exactly the head-of-Zipf shingles
    * that make an unfiltered shingle self-join quadratic — and the PPJoin
    * POSITIONAL filter prunes, still losslessly, the candidates whose
    * match position leaves too little suffix to ever reach τ (the filter
    * that keeps candidate growth in check when near-dup structure makes
    * prefix tokens corpus-frequent). Cost is one df aggregate, one per-doc
    * keyed window (rank by rarity), the prefix-token equi-join, and an
    * id-keyed verify join — every shuffle keyed, nothing corpus×corpus.
    * τ rides as exact ppm (⌈τ·n⌉ = (n·τ_ppm + 999999) div 10⁶) so both
    * engines cut identical prefixes.
    */
  def prefixJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      tauPpm: Long = 600000L
  ): DataFrame = {
    require(tauPpm > 0 && tauPpm <= 1000000L, "tauPpm in (0, 1e6]")
    // tokenize into a projected column and gate on TOKEN count, not on
    // size(sh) above the shingle alias: predicate pushdown substitutes
    // aliases into the filter unconditionally, so a size(sh) > 0 filter
    // re-evaluates the whole shingle lambda — with the split() inlined PER
    // ELEMENT — against every raw row (measured 13 s vs 1 s on the bench
    // corpus for this one stage). size(ws) >= k ⟺ sh non-empty by
    // [[shinglesFromWords]]'s short-doc guard, so the gate is equivalent.
    val docs = spread(df.select(col(idCol), col(textCol)))
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("_ws"))
      .filter(size(col("_ws")) >= 3)
      .select(col("id"), array_distinct(shinglesFromWords(col("_ws"))).as("sh"))
      .localCheckpoint()
    val exploded = docs.select(
      col("id"), size(col("sh")).as("sz"), explode(col("sh")).as("s"))
    val sdf = exploded.groupBy("s").agg(count(lit(1)).as("sdf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("sdf"), col("s"))
    val prefix = exploded
      .join(sdf, Seq("s"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= expr(s"sz - ((sz * ${tauPpm}L + 999999L) div 1000000L) + 1L"))
      .select("id", "sz", "s", "rn")
      .localCheckpoint()
    // PPJoin positional filter (lossless, Xiao et al. 2008): matching at
    // canonical positions (i, j) leaves at most min(|A|−i, |B|−j) + 1
    // tokens that can still overlap — if that bound misses the required
    // α = ⌈τ(|A|+|B|)/(1+τ)⌉ the candidate cannot reach τ and is pruned
    // BEFORE the verify join. α in exact ppm integers like everything else.
    val cand = prefix.as("a")
      .join(
        prefix.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id") &&
          col("b.sz") * 1000000L >= col("a.sz") * tauPpm &&
          col("a.sz") * 1000000L >= col("b.sz") * tauPpm &&
          (least(col("a.sz") - col("a.rn"), col("b.sz") - col("b.rn")) + 1L) *
            lit(1000000L + tauPpm) >= lit(tauPpm) * (col("a.sz") + col("b.sz"))
      )
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    cand
      .join(docs.select(col("id").as("id1"), col("sh").as("_sha")), Seq("id1"))
      .join(docs.select(col("id").as("id2"), col("sh").as("_shb")), Seq("id2"))
      .select(
        col("id1"),
        col("id2"),
        size(array_intersect(col("_sha"), col("_shb"))).cast("long").as("common"),
        (size(col("_sha")) + size(col("_shb"))).cast("long").as("_tot")
      )
      .filter(col("common") * 1000000L >= lit(tauPpm) * (col("_tot") - col("common")))
      .select(
        col("id1"),
        col("id2"),
        col("common"),
        expr("common * 1000000L div (_tot - common)").as("jaccard_ppm")
      )
  }
}

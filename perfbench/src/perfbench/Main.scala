package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the run's options and a scratch
  * directory of its own.
  */
final case class Ctx(
    spark: SparkSession,
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: Path,
    createNs: Long,
    tracer: Tracer
) {
  /** A fresh directory under the run's scratch directory. */
  def dir(name: String): Path = Files.createDirectories(work.resolve(name))

  /** Log the end of a phase, with the JVM's uptime, to stderr. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%7.2f s  $name")
}

/** Runs one workload once and prints its result as the last stdout line.
  *
  * {{{
  * Main --workload <frag_mixed|dedup_chains|ann_batch> --seed <n> --seconds <s>
  *      --trace <0|1> --work <dir>
  * }}}
  *
  * One closed-loop client on `local[4]`: the next operation starts when the
  * previous one has returned and been checked.
  */
object Main {
  val Workloads: Map[String, Ctx => Outcome] = Map(
    "frag_mixed" -> FragMixed.run,
    "dedup_chains" -> DedupChains.run,
    "ann_batch" -> AnnBatch.run
  )

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    val body = Workloads.getOrElse(workload, usage(s"unknown workload $workload"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t   => usage(s"--trace must be 0 or 1, got $t")
    }
    val work = Files.createDirectories(Paths.get(need("work")).toAbsolutePath)

    val (spark, createNs) = Stats.timed {
      graft.GraftSession
        .builder(master = "local[4]", shufflePartitions = 4)
        .config("spark.local.dir", Files.createDirectories(work.resolve("spark-local")).toString)
        .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = Ctx(spark, workload, seed, seconds, trace, work, createNs, tracer)
    ctx.phase("session started")
    val out =
      try body(ctx)
      finally {
        if (trace) tracer.write(work.getParent.resolveSibling("traces").resolve(s"$workload-seed$seed.jsonl"))
        spark.stop()
        ctx.phase("session stopped")
      }
    out.notes.foreach(n => System.err.println(s"[perfbench] $n"))
    out.details.foreach(m => System.err.println(s"[perfbench] detail ${m.name} ${m.value} ${m.unit}"))
    println(out.json)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println(
      "usage: Main --workload <" + Workloads.keys.toSeq.sorted.mkString("|") +
        "> --seed <n> --seconds <s> --trace <0|1> --work <dir>")
    sys.exit(2)
  }
}

/** What every workload reports, and file helpers. */
object Run {

  /** End-to-end metrics every workload reports (tracing off), under the
    * same names. `opMs` holds the latency of every measured operation,
    * failed ones included, `items` the work items (operations, documents or
    * queries) of the successful ones, and `f1` the outputs' F1 against the
    * truth. `items_per_s` divides by the operations' time, so the
    * benchmark's own checks between operations do not count. `setup_s` is
    * session start, plus the median of the repeated set-up, plus warm-up.
    */
  def common(ctx: Ctx, out: Outcome, setupRepNs: Seq[Long], warmUpNs: Long,
             opMs: Seq[Double], items: Double, f1: Double): Unit = {
    out.add("setup_s", (ctx.createNs + Stats.median(setupRepNs.map(_.toDouble)) + warmUpNs) / 1e9, "s")
    out.add("ok_op_ratio", (out.attempted - out.failed).toDouble / out.attempted, "ratio")
    out.add("peak_rss_mb", Stats.peakRssMb(), "MiB")
    out.add("op_ms_p50", Stats.median(opMs), "ms")
    out.add("op_ms_p90", Stats.quantile(opMs, 0.9), "ms")
    out.add("items_per_s", items / (opMs.sum / 1e3), "items/s")
    out.add("answer_f1", f1, "ratio")
  }

  /** Per-layer metrics every workload reports (traced run), under the same
    * names: graft's set-up calls; per traced operation, the time graft takes
    * to return its frames (`build`) and to materialise them (`exec`), the
    * planning time of those frames (`plans`, re-planned after the loop),
    * self time of graft's driver code and of Spark's jobs, and Spark's work
    * counts; collector time, session start, and the tracing overhead. The per-layer self time of every span, probes
    * included, goes to the details.
    */
  def commonLayers(ctx: Ctx, out: Outcome, tracedOps: Seq[Long], gcS: Double, overheadMs: Double,
                   setupCallsNs: Seq[Double], buildMs: Seq[Double], execMs: Seq[Double],
                   planMs: Seq[Double]): Unit = {
    val t = ctx.tracer
    t.drain()
    val per = tracedOps.map(t.ofOp)
    val n = math.max(1, per.size).toDouble
    def avg(f: Counters => Long) = per.map(f).sum / n
    out.add("GraftSession.create_s", Stats.nanosToS(ctx.createNs), "s")
    out.add("graft.setup_calls_s", Stats.median(setupCallsNs) / 1e9, "s")
    out.add("graft.build_ms_p50", Stats.median(buildMs), "ms")
    out.add("graft.exec_ms_p50", Stats.median(execMs), "ms")
    out.add("plans.planning_ms_p50", Stats.median(planMs), "ms")
    val own = t.selfTimeNs(_.op > 0)
    out.add("graft.self_ms_per_op", own.collect { case (l, ns) if l != "spark" => ns }.sum / 1e6 / n, "ms")
    out.add("spark.self_ms_per_op", own.getOrElse("spark", 0L) / 1e6 / n, "ms")
    out.add("spark.jobs", avg(_.jobs), "count")
    out.add("spark.stages", avg(_.stages), "count")
    out.add("spark.tasks", avg(_.tasks), "count")
    out.add("spark.shuffle_write_bytes", avg(_.shuffleWriteBytes), "bytes")
    out.add("spark.spill_bytes", avg(_.spillBytes), "bytes")
    out.add("spark.executor_cpu_s", avg(_.executorCpuNs) / 1e9, "s")
    out.add("spark.scheduler_delay_ms", avg(_.schedulerDelayMs), "ms")
    out.add("jvm.gc_s", gcS, "s")
    out.add("trace.overhead_ms", overheadMs, "ms")
    t.selfTimeNs(_ => true).toSeq.sortBy(_._1).foreach { case (layer, ns) =>
      out.detail(s"$layer.all_spans.self_ms_per_op", ns / 1e6 / n, "ms")
    }
  }

  /** Optimisation and planning time of a frame, planned afresh: a no-op
    * projection over it is analysed eagerly, then timed to its physical plan.
    */
  def planningMs(df: org.apache.spark.sql.DataFrame): Double = {
    val fresh = df.select("*")
    Stats.nanosToMs(Stats.timed(fresh.queryExecution.executedPlan)._2)
  }

  /** Recursively delete a directory tree if it exists. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Total size of the regular files under `p`. */
  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  /** Number of regular files under `p`. */
  def treeFiles(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).count()
    finally s.close()
  }
}

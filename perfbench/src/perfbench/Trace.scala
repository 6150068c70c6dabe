package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Host-independent work counts of one job group. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var executorCpuNs = 0L
  var schedulerDelayMs = 0L

  def add(o: Counters): Counters = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    executorCpuNs += o.executorCpuNs; schedulerDelayMs += o.schedulerDelayMs
    this
  }
}

/** Attributes every job, stage and task to the job group that was set on the
  * submitting thread. Scheduler delay is the time a task waited for a slot:
  * its launch time minus its stage's submission time.
  */
final class GroupListener extends SparkListener {
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  private val counters = mutable.HashMap.empty[String, Counters]
  private val jobWall = mutable.HashMap.empty[String, ArrayBuffer[(Long, Long)]]

  private def of(group: String): Counters = counters.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = g
    jobStart(e.jobId) = e.time
    e.stageIds.foreach(stageGroup(_) = g)
    of(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val g = jobGroup.getOrElse(e.jobId, "")
    jobWall.getOrElseUpdate(g, ArrayBuffer.empty) += ((jobStart.getOrElse(e.jobId, e.time), e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.executorCpuNs += m.executorCpuTime
    }
    stageSubmitted.get(e.stageId).foreach { s =>
      c.schedulerDelayMs += math.max(0L, e.taskInfo.launchTime - s)
    }
  }

  def countersOf(group: String): Counters = synchronized(new Counters().add(of(group)))
  def jobsOf(group: String): Seq[(Long, Long)] = synchronized(jobWall.get(group).map(_.toSeq).getOrElse(Nil))
}

/** One timed call into a layer. `layer` is the name's first dotted part. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, op: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. Each span sets its own job group on the calling
  * thread, so the [[GroupListener]] charges Spark work to the innermost
  * span. Disabled, `span` is a plain call: no job group, no listener.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val nanoToEpochMs = System.currentTimeMillis() - System.nanoTime() / 1000000L
  val listener = new GroupListener
  if (enabled) sc.addSparkListener(listener)

  /** Operation id stamped on the spans opened from now on. */
  var op: Long = -1L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, 0L, 0L, parent, op)
      stack = id :: stack
      sc.setJobGroup(group(id), name)
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = spans(id).copy(startNs = t0, endNs = System.nanoTime())
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(group(p), spans(p).name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  private def group(id: Int): String = s"perfbench-span-$id"

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbench.Bus.drain(sc)

  def all: Seq[Span] = spans.toSeq

  /** Spark work charged to `s` itself (not to its child spans). */
  def own(s: Span): Counters = listener.countersOf(group(s.id))

  /** Spark work of every span stamped with operation `op`. */
  def ofOp(op: Long): Counters =
    spans.filter(_.op == op).foldLeft(new Counters)((acc, s) => acc.add(own(s)))

  /** Self time per layer, summed over the spans `keep` selects: a span's
    * duration minus the part covered by its child spans and by the Spark
    * jobs it submitted (the jobs form the `spark` layer).
    */
  def selfTimeNs(keep: Span => Boolean): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    val out = mutable.HashMap.empty[String, Long].withDefaultValue(0L)
    spans.filter(keep).foreach { s =>
      val jobs = listener.jobsOf(group(s.id)).map { case (a, b) =>
        ((a - nanoToEpochMs) * 1000000L, (b - nanoToEpochMs) * 1000000L)
      }
      val kids: Seq[(Long, Long)] = children.get(s.id).map(_.toSeq.map(c => (c.startNs, c.endNs))).getOrElse(Nil)
      val jobCover = covered(s, jobs)
      out(s.layer) += s.durNs - covered(s, kids ++ jobs)
      out("spark") += jobCover
    }
    out.toMap
  }

  /** Length of the union of `ivs` clipped to the span's interval. */
  private def covered(s: Span, ivs: Seq[(Long, Long)]): Long = {
    val clipped = ivs.map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Write every span, with its own Spark counters, as JSON lines. */
  def write(path: Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      val c = own(s)
      s"""{"id": ${s.id}, "name": "${s.name}", "start_us": ${(s.startNs - t0) / 1000}, """ +
        s""""end_us": ${(s.endNs - t0) / 1000}, "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""jobs": ${c.jobs}, "stages": ${c.stages}, "tasks": ${c.tasks}, """ +
        s""""shuffle_write_bytes": ${c.shuffleWriteBytes}, "spill_bytes": ${c.spillBytes}, """ +
        s""""executor_cpu_ms": ${c.executorCpuNs / 1000000}, "scheduler_delay_ms": ${c.schedulerDelayMs}}"""
    }
    Files.createDirectories(path.getParent)
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

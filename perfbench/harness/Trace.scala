package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.util.QueryExecutionListener

object Clock {
  private val anchorNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  /** Wall-clock epoch nanoseconds with nanoTime's resolution. */
  def epochNs(): Long = anchorNs + System.nanoTime()
}

/** One Spark job as the listener saw it; times in epoch ms. */
final class JobRec(val id: Int, val group: String, val start: Long) {
  var end = start
  var stages = 0
  var tasks = 0
  var outBytes = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var cpuNs = 0L
  var gcMs = 0L
}

/** Job, stage and task metrics, collected off the listener bus. Reads
  * happen after [[take]], which first drains the bus. */
final class JobListener(sc: SparkContext) extends SparkListener {
  private val live = scala.collection.mutable.Map[Int, JobRec]()
  private val stageJob = scala.collection.mutable.Map[Int, JobRec]()
  private val done = ArrayBuffer[JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new JobRec(e.jobId, group, e.time)
    live(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    live.remove(e.jobId).foreach { j => j.end = e.time; done += j }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      if (m != null) {
        j.outBytes += m.outputMetrics.bytesWritten
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
      }
    }
  }

  /** Jobs that ended since the previous call. */
  def take(): Seq[JobRec] = {
    org.apache.spark.perfbenchglue.Bus.drain(sc)
    synchronized { val out = done.toList; done.clear(); stageJob.clear(); out }
  }
}

object WriteListener {
  /** Plan traversal that descends into adaptive (AQE) plans, which wrap
    * the write command. */
  val plans = new AdaptiveSparkPlanHelper {}
}

/** Files committed by file-format writes (the write command's own
  * `numFiles` metric), per query. */
final class WriteListener extends QueryExecutionListener {
  private var files = 0L
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val n = WriteListener.plans.collect(qe.executedPlan) { case w: DataWritingCommandExec =>
      w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    synchronized { files += n }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  def take(): Long = synchronized { val n = files; files = 0; n }
}

/** A span is one public layer call (or a benchmark step around such
  * calls); times in epoch ns. Spark jobs whose job group names the span
  * are its children. */
final case class Span(id: Int, parent: Int, trace: Int, layer: String, name: String,
    start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** Wraps each layer call. With tracing off it only counts calls; with
  * tracing on it records a span and tags the call's Spark jobs with a
  * job group naming the span. Spans stay in memory; the harness writes
  * them out at the end. */
final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer[Span]()
  var calls = 0L
  var trace = 0
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var sc: Option[SparkContext] = None

  def attach(spark: SparkSession): Unit = sc = Some(spark.sparkContext)

  def group(id: Int): String = s"pb-$id"

  def call[T](layer: String, name: String)(body: => T): T = {
    calls += 1
    span(layer, name)(body)
  }

  /** A benchmark step that is not itself a layer call. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.foreach(_.setJobGroup(group(id), s"$layer $name", interruptOnCancel = false))
      val t0 = Clock.epochNs()
      try body
      finally {
        spans += Span(id, parent, trace, layer, name, t0, Clock.epochNs())
        stack = stack.tail
        sc.foreach { c =>
          stack.headOption match {
            case Some(p) => c.setJobGroup(group(p), "", interruptOnCancel = false)
            case None => c.clearJobGroup()
          }
        }
      }
    }
}

object Intervals {
  /** Total length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Part of [s, e) covered by the intervals, in the same unit. */
  def covered(s: Double, e: Double, iv: Seq[(Double, Double)]): Double =
    union(iv.map { case (a, b) => (math.max(a, s), math.min(b, e)) })
}

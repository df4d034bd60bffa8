package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

/** Runs one workload in a fresh JVM: set-up, one cold job, then warm
  * repetitions for the given number of seconds. Writes its measurements
  * as JSON to `result=`; with `trace=1` also the spans to `trace_file=`.
  *
  * Arguments are key=value: workload, input, output, seconds, trace,
  * cpus, launch_ns (epoch ns at which the launcher started this JVM),
  * result, trace_file. */
object Harness {
  /** Layer probes a workload does not run report 0: the layer does no
    * work there. */
  val ProbeDefaults: Map[String, Double] = Seq("sources.load_s", "operators.lookup_s",
    "operators.join_s", "operators.nest_s", "functions.shingle_s", "pipelines.quality_s",
    "pipelines.exact_s", "pipelines.near_s", "dedup.candidate_pairs", "dedup.candidate_yield")
    .map(_ -> 0.0).toMap

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use after a full GC. Spark's ContextCleaner releases
    * shuffle and broadcast state asynchronously once a GC finds it
    * unreachable, so a second GC after a pause collects what that freed. */
  private def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else BigDecimal(d).bigDecimal.toPlainString

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def str(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val traceOn = o("trace") == "1"
    val seconds = o("seconds").toDouble
    val tracer = new Tracer(traceOn)
    val sessStart = Clock.epochNs()
    val spark = graft.Sessions.local(o("cpus"))
    val sessEnd = Clock.epochNs()
    val setupS = (sessEnd - o("launch_ns").toLong) / 1e9
    tracer.spans += Span(-2, -1, -1, "session", "Sessions.local", sessStart, sessEnd)
    tracer.calls += 1
    val sc = spark.sparkContext
    val jobs = new JobListener(sc)
    sc.addSparkListener(jobs)
    val writes = new WriteListener
    if (traceOn) spark.listenerManager.register(writes)
    tracer.attach(spark)

    val in = Paths.get(o("input"))
    val out = Paths.get(o("output"))
    val wl: Workload = o("workload") match {
      case "denorm_json" => new DenormJson(spark, in, out)
      case "corpus_dedup" => new CorpusDedup(spark, in, out, out.resolve("stages"))
      case "cdc_merge" => new CdcMerge(spark, in, out)
    }

    // one repetition: untimed prepare, the timed job, then untimed
    // bookkeeping (bus drain, GC for the live-heap reading)
    final case class Rep(seconds: Double, jobs: Seq[JobRec], files: Long, heapMb: Double,
        trace: Int)
    val reps = ArrayBuffer[Rep]()
    def rep(checked: Boolean): Rep = {
      wl.prepare()
      jobs.take(); writes.take()
      var paused = 0L
      val snap: Int => Unit =
        if (!checked) _ => ()
        else i => {
          val p0 = System.nanoTime()
          wl.snapshot(i)
          paused += System.nanoTime() - p0
        }
      tracer.trace = reps.size
      val t0 = Clock.epochNs()
      tracer.span("bench", "job")(wl.run(tracer, snap))
      val t1 = Clock.epochNs()
      val r = Rep((t1 - t0 - paused) / 1e9, jobs.take(), writes.take(), liveHeapMb(), reps.size)
      reps += r
      r
    }

    Io.delete(out)
    Files.createDirectories(out)
    val cold = rep(checked = true)
    val warmStart = System.nanoTime()
    while (reps.size < 4 || (System.nanoTime() - warmStart) / 1e9 < seconds) rep(checked = false)
    val warm = reps.drop(1).toSeq
    val jobS = median(warm.map(_.seconds))
    val writeAmp = median(warm.map(r => r.jobs.map(_.outBytes).sum.toDouble)) / wl.inputBytes
    val metrics = ArrayBuffer[(String, Double)](
      "setup_s" -> setupS,
      "first_job_s" -> cold.seconds,
      "job_s" -> jobS,
      "write_amp" -> writeAmp,
      // median, not max: a reading taken before the ContextCleaner has
      // released a job's broadcast and shuffle state reads ~30 MB high
      "live_heap_mb" -> median(reps.map(_.heapMb).toSeq))

    if (traceOn) {
      val last = warm.last
      val lastSpans = tracer.spans.filter(_.trace == last.trace).toSeq
      tracer.trace = reps.size   // the probes get a trace id of their own
      val probeMetrics = ProbeDefaults ++ tracer.span("bench", "probes")(wl.probes(tracer))
      metrics ++= layerMetrics(tracer, last.jobs, last.files, lastSpans,
        wl.inputBytes, setupS = (sessEnd - sessStart) / 1e9)
      metrics += "trace.job_s" -> jobS
      metrics ++= probeMetrics
      val allJobs = reps.flatMap(_.jobs).toSeq ++ jobs.take()   // the probes' jobs last
      Files.write(Paths.get(o("trace_file")),
        traceJson(tracer, allJobs).getBytes(StandardCharsets.UTF_8))
    }

    val result = obj(Seq(
      "attempted" -> (reps.size + tracer.calls).toString,
      "reps" -> reps.size.toString,
      "warm_job_s" -> warm.map(r => num(r.seconds)).mkString("[", ",", "]"),
      "metrics" -> obj(metrics.toSeq.map { case (k, v) => k -> num(v) })))
    Files.write(Paths.get(o("result")), result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Per-layer metrics of one traced repetition. */
  def layerMetrics(t: Tracer, jobs: Seq[JobRec], files: Long, spans: Seq[Span],
      inputBytes: Long, setupS: Double): Seq[(String, Double)] = {
    val jobIv = jobs.map(j => (j.start.toDouble, j.end.toDouble))
    val root = spans.find(_.name == "job").get
    val wallMs = (root.end - root.start) / 1e6
    val gapS = (wallMs - Intervals.covered(root.start / 1e6, root.end / 1e6, jobIv)) / 1e3
    val sinkSpans = spans.filter(_.layer == "sinks")
    def jobsOf(s: Span) = jobs.filter(_.group == t.group(s.id))
    val preWrite = sinkSpans.flatMap { s =>
      jobsOf(s).filter(_.outBytes > 0).map(_.start).sortBy(identity).headOption
        .map(w => math.max(0.0, (w - s.start / 1e6) / 1e3))
    }
    Seq(
      "session.start_s" -> setupS,
      "sources.input_mb" -> inputBytes / 1e6,
      "operators.shuffle_mb" -> jobs.map(_.shuffleBytes).sum / 1e6,
      "operators.spill_mb" -> jobs.map(_.spillBytes).sum / 1e6,
      "sinks.write_s" -> sinkSpans.filter(_.name.startsWith("TableSink.writeTruncate"))
        .map(_.seconds).sum,
      "sinks.files_written" -> files.toDouble,
      "sinks.bytes_written_mb" -> jobs.map(_.outBytes).sum / 1e6,
      "sinks.call_s" -> median(sinkSpans.map(_.seconds)),
      "sinks.jobs_per_call" ->
        (if (sinkSpans.isEmpty) 0.0 else sinkSpans.map(jobsOf(_).size).sum.toDouble / sinkSpans.size),
      "sinks.pre_write_s" -> median(preWrite),
      "driver.gap_s" -> gapS,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> jobs.map(_.stages).sum.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.executor_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9,
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1e3)
  }

  /** Every span and job, plus each span's self time: its duration minus
    * the part covered by its child spans and its own Spark jobs. */
  def traceJson(t: Tracer, jobs: Seq[JobRec]): String = {
    val byParent = t.spans.groupBy(_.parent)
    val byGroup = jobs.groupBy(_.group)
    val spanRows = t.spans.sortBy(_.start).map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(c => (c.start / 1e6, c.end / 1e6)) ++
        byGroup.getOrElse(t.group(s.id), Nil).map(j => (j.start.toDouble, j.end.toDouble))
      val selfMs = (s.end - s.start) / 1e6 - Intervals.covered(s.start / 1e6, s.end / 1e6, kids.toSeq)
      obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString, "trace" -> s.trace.toString,
        "layer" -> str(s.layer), "name" -> str(s.name),
        "start_ns" -> s.start.toString, "end_ns" -> s.end.toString,
        "self_s" -> num(selfMs / 1e3)))
    }
    val jobRows = jobs.sortBy(_.start).map { j =>
      obj(Seq("job" -> j.id.toString, "group" -> str(j.group),
        "start_ms" -> j.start.toString, "end_ms" -> j.end.toString,
        "stages" -> j.stages.toString, "tasks" -> j.tasks.toString,
        "out_bytes" -> j.outBytes.toString, "shuffle_bytes" -> j.shuffleBytes.toString,
        "spill_bytes" -> j.spillBytes.toString, "cpu_ns" -> j.cpuNs.toString,
        "gc_ms" -> j.gcMs.toString))
    }
    obj(Seq("spans" -> spanRows.mkString("[\n", ",\n", "]"),
      "jobs" -> jobRows.mkString("[\n", ",\n", "]"))) + "\n"
  }
}

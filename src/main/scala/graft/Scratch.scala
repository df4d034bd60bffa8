package graft

import org.apache.spark.sql.SparkSession

/**
 * Scratch storage for iterative operators (the round snapshots of
 * every scratch-using [[graft.operators.Graph]] operator, each call in
 * its own [[callDir]]; [[graft.operators.Components]] reliable
 * checkpoints). Resolution:
 *
 *   1. `spark.graft.scratchDir`, if set — the CLUSTER deployment knob.
 *      Point it at a durable shared filesystem (HDFS/object store)
 *      so round snapshots survive executor loss and a restarted job
 *      can re-read them. Lifecycle belongs to the deployment: graft
 *      never deletes a configured scratch dir.
 *   2. Otherwise an ABSOLUTE per-application directory under
 *      `java.io.tmpdir` — CWD-independent (a relative `target/` path
 *      would resolve against whatever directory the driver happened
 *      to start in), deleted by ONE JVM shutdown hook for the whole
 *      root (per-call hooks would accumulate a thread per operator
 *      invocation in a long-lived session).
 */
object Scratch {

  private val hookedRoots = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete(): Unit
  }

  /** True when `spark.graft.scratchDir` is explicitly configured. */
  def configured(spark: SparkSession): Option[String] =
    spark.conf.getOption("spark.graft.scratchDir").filter(_.nonEmpty)

  private val callSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** A per-call scratch subdirectory `<op>_<applicationId>_<seq>`, the
    * one naming rule for operator and query scratch. It is unique
    * across CONCURRENT APPLICATIONS sharing one configured scratch root
    * (r20, ADVICE r19: a per-JVM sequence number alone let two
    * applications write and read the same `<op>_1` path, overwriting
    * each other's live input mid-read) as well as across calls within
    * one application, drawing `seq` from one JVM-wide counter.
    * Residue lifecycle is the class-doc rule: the local default root
    * dies with the JVM hook; a configured (durable) root keeps one
    * result-sized artifact per call for the deployment to expire: a
    * Graph call leaves only its result snapshot there. */
  def callDir(spark: SparkSession, op: String): String =
    s"${root(spark)}/${op}_${spark.sparkContext.applicationId}_${callSeq.incrementAndGet()}"

  /** The scratch root for this application (see class doc). Registers
    * the cleanup hook exactly once per local default root; configured
    * (durable) roots are never deleted. */
  def root(spark: SparkSession): String = configured(spark).getOrElse {
    val dir = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_scratch_${spark.sparkContext.applicationId}").getAbsolutePath
    if (hookedRoots.add(dir))
      Runtime.getRuntime.addShutdownHook(
        new Thread(() => deleteTree(new java.io.File(dir))))
    dir
  }
}

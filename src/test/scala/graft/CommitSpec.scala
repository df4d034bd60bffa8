package graft

import graft.sinks.{Commit, Snapshot, TableSink}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, FilterFileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The Commit protocol under injected faults, and the crash windows of
 * its callers as states a crashed call leaves behind. */
class CommitSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def local: FileSystem = FileSystem.getLocal(new Configuration())

  /** The local filesystem with a fault at the `at`-th rename or delete:
   * `die` throws there and on every later call (the process is gone);
   * otherwise that one call reports failure without acting and later
   * calls run normally. */
  private class FaultyFs(at: Int, die: Boolean) extends FilterFileSystem(local) {
    private var n = 0
    private def fault(): Boolean = {
      n += 1
      if (die && n >= at) throw new java.io.IOException(s"injected crash at call $n")
      n == at
    }
    override def rename(src: Path, dst: Path): Boolean =
      !fault() && super.rename(src, dst)
    override def delete(p: Path, recursive: Boolean): Boolean =
      !fault() && super.delete(p, recursive)
  }

  /** Every file under `dir` (relative path -> content), checksums aside. */
  private def contents(dir: java.nio.file.Path): Map[String, String] = {
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.endsWith(".crc"))
      .map(p => dir.relativize(p).toString -> new String(Files.readAllBytes(p), UTF_8))
      .toMap
    finally walk.close()
  }

  /** Lay `content` down at `p`: a file, or a directory holding `part`. */
  private def put(p: java.nio.file.Path, content: String, asDir: Boolean): Unit =
    if (asDir) {
      Files.createDirectories(p)
      Files.write(p.resolve("part"), content.getBytes(UTF_8)): Unit
    } else Files.write(p, content.getBytes(UTF_8)): Unit

  test("replace + recover: every injected fault leaves exactly the pre- or post-state") {
    for (asDir <- Seq(false, true); hadTarget <- Seq(true, false);
         die <- Seq(true, false); at <- 1 to 4) {
      val dir = Files.createTempDirectory("commit")
      val (target, tmp, bak) = (dir.resolve("t"), dir.resolve(".t.tmp"), dir.resolve(".t.bak"))
      val leaf = if (asDir) "t/part" else "t"
      val pre = if (hadTarget) Map(leaf -> "old") else Map.empty[String, String]
      val post = Map(leaf -> "new")
      if (hadTarget) put(target, "old", asDir)
      put(tmp, "new", asDir)
      def hp(p: java.nio.file.Path) = new Path(p.toUri)
      val label = s"dir=$asDir hadTarget=$hadTarget die=$die at=$at"
      val outcome = scala.util.Try(
        Commit.replace(new FaultyFs(at, die), hp(target), hp(tmp), hp(bak)))
      // a fault-free replace, or one whose only fault was the final
      // best-effort drop of bak, reports success
      if (outcome.isSuccess) assert(contents(dir) - ".t.bak" - ".t.bak/part" == post, label)
      Commit.recover(local, hp(target), hp(tmp), hp(bak))
      val after = contents(dir)
      assert(after == pre || after == post, s"$label: $after")
      // a second recovery finds nothing left to do
      assert(Commit.recover(local, hp(target), hp(tmp), hp(bak)) ==
        (if (after.isEmpty) Commit.Outcome.Absent else Commit.Outcome.Kept(false, false)), label)
    }
  }

  test("recover reports which residue it acted on") {
    val dir = Files.createTempDirectory("commit")
    val (target, tmp, bak) = (dir.resolve("t"), dir.resolve("t.tmp"), dir.resolve("t.bak"))
    def hp(p: java.nio.file.Path) = new Path(p.toUri)
    def rec() = Commit.recover(local, hp(target), hp(tmp), hp(bak))
    assert(rec() == Commit.Outcome.Absent)
    put(bak, "old", asDir = false)
    assert(rec() == Commit.Outcome.RolledBack)
    Files.move(target, bak)
    put(tmp, "new", asDir = false)
    assert(rec() == Commit.Outcome.RolledForward)
    assert(contents(dir) == Map("t" -> "new"))
    put(tmp, "x", asDir = false)
    assert(rec() == Commit.Outcome.Kept(droppedTmp = true, droppedBak = false))
    put(bak, "x", asDir = false)
    assert(rec() == Commit.Outcome.Kept(droppedTmp = false, droppedBak = true))
    assert(contents(dir) == Map("t" -> "new"))
  }

  // --- callers' crash windows: each state is the one a crash between
  // a swap's two renames leaves (the old version parked in bak, the
  // complete new version in tmp), built by hand ----------------------

  test("TableSink mutations recover a table caught mid-swap instead of rebuilding it from the delta") {
    val calls: Seq[(String, String => Unit)] = Seq(
      "upsert" -> (d => TableSink.upsert(spark, d, Seq((4L, "d")).toDF("k", "v"), Seq("k"))),
      "applyCdc" -> (d => TableSink.applyCdc(spark, d,
        Seq((4L, "d", "U")).toDF("k", "v", "_op"), Seq("k"))),
      "upsertVersioned" -> (d => TableSink.upsertVersioned(spark, d,
        Seq((4L, "d", 1L)).toDF("k", "v", "ver"), Seq("k"), "ver")))
    calls.foreach { case (name, call) =>
      val parent = Files.createTempDirectory("sinkcrash")
      val dir = parent.resolve("t").toString
      val old = Seq((1L, "a", 1L), (2L, "b", 1L), (3L, "c", 1L))
      val neu = Seq((1L, "a", 1L), (2L, "B", 2L), (3L, "c", 1L))
      val cols = if (name == "upsertVersioned") Seq("k", "v", "ver") else Seq("k", "v")
      def frame(rows: Seq[(Long, String, Long)]) = rows.toDF("k", "v", "ver").select(cols.head, cols.tail: _*)
      frame(old).write.parquet(parent.resolve(".t__swap_bak").toString)
      frame(neu).write.parquet(parent.resolve(".t__swap_tmp").toString)
      call(dir)
      val back = spark.read.parquet(dir).select("k", "v").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      assert(back == Seq((1L, "a"), (2L, "B"), (3L, "c"), (4L, "d")), name)
      assert(parent.toFile.list().toSet == Set("t"), s"$name: ${parent.toFile.list().toSeq}")
    }
  }

  test("deleteKeys recovers a file caught mid-swap instead of losing its rows") {
    val dir = Files.createTempDirectory("delcrash").resolve("t")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1).write.parquet(dir.toString)
    Seq((10L, "x"), (11L, "y")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(dir.toString)
    val low = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
      .find(n => spark.read.parquet(dir.resolve(n).toString).filter($"k" === 1L).count() == 1L)
      .get
    // a delete of key 2 crashed between the renames of its swap
    val scratch = Files.createTempDirectory("delcrash").resolve("s")
    Seq((1L, "a")).toDF("k", "v").coalesce(1).write.parquet(scratch.toString)
    val part = Files.list(scratch).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.move(part, dir.resolve(s".${low}__delete_tmp"))
    Files.move(dir.resolve(low), dir.resolve(s".${low}__delete_bak"))
    // a plain move leaves the Hadoop checksum behind; stale, it would fail the read
    Files.deleteIfExists(dir.resolve(s".$low.crc"))
    TableSink.deleteKeys(spark, dir.toString, "k", Seq(11L))
    val back = spark.read.parquet(dir.toString).as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(back == Seq((1L, "a"), (10L, "x")))
    assert(!dir.toFile.list().exists(_.contains("__delete_")), dir.toFile.list().toSeq)
  }

  test("a publish after a crashed manifest flip appends after the real head and keeps v1") {
    val root = s"${Scratch.root(spark)}/commitspec_${System.nanoTime()}"
    Snapshot.publish(spark, root, Map("t" -> Seq(1L).toDF("x"), "u" -> Seq(1L).toDF("y")))
    Snapshot.publishLinked(spark, root, Map("u" -> Seq(2L).toDF("y"))) // v2 links t -> v1
    Snapshot.publish(spark, root, Map("w" -> Seq(3L).toDF("z")))
    // the flip to v3 crashed between its renames: v2's pointer parked
    // in MANIFEST.bak, v3's complete pointer in MANIFEST.tmp
    val hfs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(rel: String) = new Path(s"$root/$rel")
    assert(hfs.rename(p("MANIFEST"), p("MANIFEST.tmp")))
    val out = hfs.create(p("MANIFEST.bak"), true)
    try out.write("2".getBytes(UTF_8)) finally out.close()
    val v = Snapshot.publish(spark, root, Map("w" -> Seq(4L).toDF("z")))
    assert(v == 4L)
    assert(Snapshot.read(spark, root, "t", Some(2L)).as[Long].collect().toSeq == Seq(1L))
    assert(Snapshot.read(spark, root, "w", Some(3L)).as[Long].collect().toSeq == Seq(3L))
    assert(!hfs.exists(p("MANIFEST.tmp")) && !hfs.exists(p("MANIFEST.bak")))
  }

  test("vacuum keeps a version pinned by a tag caught mid-flip; the next tag recovers it") {
    val root = s"${Scratch.root(spark)}/commitspec_${System.nanoTime()}"
    (1 to 3).foreach(i => Snapshot.publish(spark, root, Map("t" -> Seq(i.toLong).toDF("x"))))
    Snapshot.tag(spark, root, "prod", 1L)
    // re-pointing prod to v2 crashed between its renames
    val hfs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(rel: String) = new Path(s"$root/$rel")
    assert(hfs.rename(p("TAG.prod"), p("TAG.prod.bak")))
    val out = hfs.create(p("TAG.prod.tmp"), true)
    try out.write("2".getBytes(UTF_8)) finally out.close()
    assert(Snapshot.vacuum(spark, root, keepLast = 1).isEmpty)
    Snapshot.tag(spark, root, "prod", 3L)
    assert(Snapshot.tagVersion(spark, root, "prod") == 3L)
    assert(Snapshot.vacuum(spark, root, keepLast = 1) == Seq(1L, 2L))
    assert(!hfs.exists(p("TAG.prod.tmp")) && !hfs.exists(p("TAG.prod.bak")))
  }
}

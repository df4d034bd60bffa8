package graft

import graft.sinks.Snapshot
import org.scalatest.funsuite.AnyFunSuite

class SnapshotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshRoot(): String =
    s"${Scratch.root(spark)}/snapspec_${System.nanoTime()}"

  test("publish then read round-trips every table of the version") {
    val root = freshRoot()
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "v")
    val b = Seq((10L, 100L)).toDF("id", "n")
    assert(Snapshot.publish(spark, root, Map("a" -> a, "b" -> b)) == 1L)
    assert(Snapshot.currentVersion(spark, root) == 1L)
    assert(Snapshot.read(spark, root, "a").as[(Long, String)].collect().toSet ==
      Set((1L, "x"), (2L, "y")))
    assert(Snapshot.read(spark, root, "b").as[(Long, Long)].collect().toList ==
      List((10L, 100L)))
  }

  test("a failing table write fails the whole publish, awaits siblings, and a retry succeeds (r20)") {
    import org.apache.spark.sql.functions.udf
    val root = freshRoot()
    val boom = udf((x: Long) => {
      if (x >= 0) throw new RuntimeException("boom"); x
    })
    val bad = Seq(1L, 2L).toDF("x").select(boom($"x").as("x"))
    val good = Seq(3L).toDF("x")
    // the failure must propagate (no manifest flip) with every sibling
    // write awaited first — the claim must be released so a retry with
    // healthy tables can claim the same version and publish it
    intercept[Exception](
      Snapshot.publish(spark, root, Map("bad" -> bad, "good" -> good)))
    assert(Snapshot.currentVersion(spark, root) == 0L)
    Snapshot.releaseClaim(spark, root)
    assert(Snapshot.publish(spark, root,
      Map("bad" -> Seq(7L).toDF("x"), "good" -> good)) == 1L)
    assert(Snapshot.read(spark, root, "bad").as[Long].collect().toList == List(7L))
    assert(Snapshot.read(spark, root, "good").as[Long].collect().toList == List(3L))
  }

  test("a new publish flips atomically; the old version stays readable (time travel)") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map("t" -> Seq(1L).toDF("x")))
    Snapshot.publish(spark, root, Map("t" -> Seq(2L, 3L).toDF("x")))
    assert(Snapshot.currentVersion(spark, root) == 2L)
    assert(Snapshot.read(spark, root, "t").as[Long].collect().toSet == Set(2L, 3L))
    assert(Snapshot.read(spark, root, "t", Some(1L)).as[Long].collect().toList ==
      List(1L))
  }

  test("a crashed publish (version dir without a manifest flip) stays invisible") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map("t" -> Seq(7L).toDF("x")))
    // simulate a publisher that died after writing data, before the flip:
    // the v2 directory exists but the manifest still names v1
    Seq(99L).toDF("x").write.parquet(s"$root/v2/t")
    assert(Snapshot.currentVersion(spark, root) == 1L)
    assert(Snapshot.read(spark, root, "t").as[Long].collect().toList == List(7L))
  }

  test("changesBetween derives the minimal I/U/D delta, dropping unchanged rows") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map("t" ->
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("k", "s", "n")))
    Snapshot.publish(spark, root, Map("t" ->
      Seq((1L, "a", 10L), (2L, "B", 20L), (4L, "d", 40L)).toDF("k", "s", "n")))
    val got = Snapshot.changesBetween(spark, root, "t", 1L, 2L, Seq("k"))
      .as[(String, Long, String, Long)].collect().toSet
    assert(got == Set(
      ("U", 2L, "B", 20L),  // value changed -> new values
      ("D", 3L, "c", 30L),  // gone -> old values
      ("I", 4L, "d", 40L))) // new -> new values; (1,a,10) unchanged: absent
  }

  test("vacuum keeps the newest versions, is idempotent, spares orphans above") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map("t" -> Seq(1L).toDF("x")))
    Snapshot.publish(spark, root, Map("t" -> Seq(2L).toDF("x")))
    Snapshot.publish(spark, root, Map("t" -> Seq(3L).toDF("x")))
    // orphan from a crashed publish above the manifest: must survive
    Seq(99L).toDF("x").write.parquet(s"$root/v4/t")
    assert(Snapshot.vacuum(spark, root, keepLast = 2) == Seq(1L))
    assert(Snapshot.read(spark, root, "t").as[Long].collect().toList == List(3L))
    assert(Snapshot.read(spark, root, "t", Some(2L)).as[Long].collect().toList ==
      List(2L))
    // the vacuumed version is gone, loudly
    intercept[Exception](
      Snapshot.read(spark, root, "t", Some(1L)).collect())
    // rerun deletes nothing further; the orphan is untouched
    assert(Snapshot.vacuum(spark, root, keepLast = 2).isEmpty)
    assert(spark.read.parquet(s"$root/v4/t").as[Long].collect().toList ==
      List(99L))
  }

  test("eraseKeys scrubs every version including tagged and orphan dirs") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map("t" ->
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")))
    Snapshot.publish(spark, root, Map("t" ->
      Seq((2L, "B"), (3L, "C"), (4L, "d")).toDF("k", "v")))
    Snapshot.tag(spark, root, "prod", 1L)
    // orphan above the manifest: its bytes must also be erased
    Seq((2L, "orphan"), (5L, "e")).toDF("k", "v").write.parquet(s"$root/v3/t")
    val removed = Snapshot.eraseKeys(spark, root, "t", "k",
      Seq(2L).toDF("k"))
    assert(removed == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L))
    // every version scrubbed, survivors intact, tag still resolves
    assert(Snapshot.read(spark, root, "t", Some(1L))
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (3L, "c")))
    assert(Snapshot.read(spark, root, "t", Some(2L))
      .as[(Long, String)].collect().toSet == Set((3L, "C"), (4L, "d")))
    assert(Snapshot.readTag(spark, root, "t", "prod")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (3L, "c")))
    assert(spark.read.parquet(s"$root/v3/t")
      .as[(Long, String)].collect().toSet == Set((5L, "e")))
    // no leftover temp/backup dirs holding the erased bytes
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    (1L to 3L).foreach { v =>
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v$v/.erase_bak_t")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/v$v/.erase_tmp_t")))
    }
    // a version with no doomed rows reports 0 and is not rewritten
    assert(Snapshot.eraseKeys(spark, root, "t", "k", Seq(2L).toDF("k")) ==
      Seq(1L -> 0L, 2L -> 0L, 3L -> 0L))
    // unknown table fails loudly
    intercept[IllegalArgumentException](
      Snapshot.eraseKeys(spark, root, "nope", "k", Seq(1L).toDF("k")))
  }

  test("vacuum refuses keepLast < 1 and unpublished roots") {
    val root = freshRoot()
    intercept[IllegalArgumentException](Snapshot.vacuum(spark, root, 2))
    Snapshot.publish(spark, root, Map("t" -> Seq(1L).toDF("x")))
    intercept[IllegalArgumentException](Snapshot.vacuum(spark, root, 0))
  }

  test("publishChecked flips only when every FK rule holds; abort leaves prior version") {
    val root = freshRoot()
    val dim = Seq((1L, "a"), (2L, "b")).toDF("dk", "label")
    val good = Seq((10L, Option(1L)), (11L, Option(2L)), (12L, Option.empty[Long]))
      .toDF("fid", "fk")
    val rules = Seq(Snapshot.FkCheck("f", "fk", "d", "dk"))
    // null fact keys pass (SQL FK semantics)
    val (v1, ok1, rep1) = Snapshot.publishChecked(spark, root,
      Map("f" -> good, "d" -> dim), rules)
    assert(v1 == 1L && ok1 && rep1 == Seq(("f.fk->d.dk", 0L)))
    assert(Snapshot.currentVersion(spark, root) == 1L)
    // two dangling keys: no flip, violation count exact
    val bad = Seq((10L, 1L), (11L, 7L), (12L, 9L)).toDF("fid", "fk")
    val (v2, ok2, rep2) = Snapshot.publishChecked(spark, root,
      Map("f" -> bad, "d" -> dim), rules)
    assert(v2 == 2L && !ok2 && rep2 == Seq(("f.fk->d.dk", 2L)))
    assert(Snapshot.currentVersion(spark, root) == 1L)
    assert(Snapshot.read(spark, root, "f").count() == 3L) // still v1's table
    // a rule naming an unpublished table fails loudly
    intercept[IllegalArgumentException](Snapshot.publishChecked(spark, root,
      Map("f" -> good), rules))
  }

  test("tags pin across publishes, promote by pointer flip, and fail loudly") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map("t" -> Seq(1L).toDF("x")))
    Snapshot.tag(spark, root, "prod", 1L)
    Snapshot.publish(spark, root, Map("t" -> Seq(2L, 3L).toDF("x")))
    // pinned: the tag still serves v1 while head moved to v2
    assert(Snapshot.readTag(spark, root, "t", "prod").as[Long].collect().toList ==
      List(1L))
    assert(Snapshot.read(spark, root, "t").as[Long].collect().toSet == Set(2L, 3L))
    Snapshot.tag(spark, root, "prod", 2L) // promote: pointer flip only
    assert(Snapshot.readTag(spark, root, "t", "prod").as[Long].collect().toSet ==
      Set(2L, 3L))
    // refusals: unknown tag, unpublished version, unsafe name
    intercept[IllegalArgumentException](Snapshot.tagVersion(spark, root, "stage"))
    intercept[IllegalArgumentException](Snapshot.tag(spark, root, "prod", 9L))
    intercept[IllegalArgumentException](Snapshot.tag(spark, root, "../evil", 1L))
  }

  test("publishCompatible: additive evolution flips, breaking refuses pre-write") {
    val root = freshRoot()
    val v1 = Seq((1L, "a")).toDF("k", "s")
    assert(Snapshot.publishCompatible(spark, root, Map("t" -> v1)) ==
      ((1L, true, Nil))) // first publish: nothing to break
    // additive column: flips
    val (v2, ok2, _) = Snapshot.publishCompatible(spark, root,
      Map("t" -> v1.withColumn("extra", org.apache.spark.sql.functions.lit(5L))))
    assert(v2 == 2L && ok2)
    // dropped + retyped: refused, nothing written, v2 still serves
    val bad = Seq(("1", 9L)).toDF("k", "extra") // k retyped, s dropped
    val (v3, ok3, viol) = Snapshot.publishCompatible(spark, root, Map("t" -> bad))
    assert(v3 == 3L && !ok3 && viol.size == 2)
    assert(viol.exists(_.contains("'s' dropped")) &&
      viol.exists(_.contains("'k' retyped")))
    assert(Snapshot.currentVersion(spark, root) == 2L)
    // the refused candidate wrote ZERO bytes
    assert(!new java.io.File(s"$root/v3").exists())
    // a brand-new table alongside a compatible one: fine
    val (v4, ok4, _) = Snapshot.publishCompatible(spark, root,
      Map("t" -> v1.withColumn("extra", org.apache.spark.sql.functions.lit(6L)),
        "u" -> Seq(1L).toDF("x")))
    assert(v4 == 3L && ok4)
  }

  test("reading an unpublished root or publishing unsafe names fails loudly") {
    val root = freshRoot()
    intercept[IllegalArgumentException](Snapshot.read(spark, root, "t"))
    intercept[IllegalArgumentException](
      Snapshot.publish(spark, root, Map("../evil" -> Seq(1L).toDF("x"))))
  }

  test("vacuum never deletes a tagged version; readTag survives deep cleanup") {
    val root = freshRoot()
    (1 to 4).foreach(i =>
      Snapshot.publish(spark, root, Map("t" -> Seq(i.toLong).toDF("x"))))
    Snapshot.tag(spark, root, "hold", 1L)
    val deleted = Snapshot.vacuum(spark, root, keepLast = 1)
    // floor would doom 1..3, but v1 is tag-protected
    assert(deleted == Seq(2L, 3L))
    assert(Snapshot.readTag(spark, root, "t", "hold").as[Long]
      .collect().toList == List(1L))
    // re-vacuum after the tag moves on: v1 loses protection
    Snapshot.tag(spark, root, "hold", 4L)
    assert(Snapshot.vacuum(spark, root, keepLast = 1) == Seq(1L))
  }

  test("readAll pins every table to ONE version; a later retag cannot tear it") {
    val root = freshRoot()
    Snapshot.publish(spark, root,
      Map("f" -> Seq((1L, 10L)).toDF("k", "n"), "d" -> Seq((1L, "a")).toDF("k", "s")))
    Snapshot.tag(spark, root, "prod", 1L)
    Snapshot.publish(spark, root,
      Map("f" -> Seq((1L, 20L)).toDF("k", "n"), "d" -> Seq((1L, "b")).toDF("k", "s")))
    val (v, ts) = Snapshot.readAll(spark, root, Seq("f", "d"), tag = Some("prod"))
    assert(v == 1L)
    // the tag advances AFTER resolution — the frames stay pinned at v1
    Snapshot.tag(spark, root, "prod", 2L)
    assert(ts("f").as[(Long, Long)].collect().toList == List((1L, 10L)))
    assert(ts("d").as[(Long, String)].collect().toList == List((1L, "a")))
    // explicit version wins over the tag; default is the current version
    assert(Snapshot.readAll(spark, root, Seq("f"), tag = Some("prod"),
      asOfVersion = Some(2L))._1 == 2L)
    assert(Snapshot.readAll(spark, root, Seq("f"))._1 == 2L)
    intercept[IllegalArgumentException](
      Snapshot.readAll(spark, root, Seq.empty))
  }

  test("publishLinked carries unchanged tables by reference, readers are oblivious") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map(
      "facts" -> Seq((1L, 10L), (2L, 20L)).toDF("k", "n"),
      "dims" -> Seq((1L, "a"), (2L, "b")).toDF("k", "s")))
    val (v2, linked) = Snapshot.publishLinked(spark, root,
      Map("facts" -> Seq((1L, 11L)).toDF("k", "n")))
    assert(v2 == 2L && linked == Map("dims" -> 1L))
    // v2 serves dims through the link — identical rows, no physical dir
    assert(Snapshot.read(spark, root, "dims").as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
    assert(!new java.io.File(s"$root/v2/dims").exists())
    assert(Snapshot.read(spark, root, "facts").as[(Long, Long)]
      .collect().toList == List((1L, 11L)))
    // links flatten: v3 carrying dims again points at the HOME (v1)
    val (v3, linked3) = Snapshot.publishLinked(spark, root,
      Map("facts" -> Seq((1L, 12L)).toDF("k", "n")))
    assert(v3 == 3L && linked3 == Map("dims" -> 1L))
    // catalog reports the logical table set of every version
    val cat = Snapshot.catalog(spark, root)
      .as[(Long, String, Long, Boolean, String)].collect().toSet
    assert(cat.contains((2L, "dims", 2L, false, "")) &&
      cat.contains((3L, "dims", 2L, true, "")))
    // a version carrying a table neither written nor linked fails loudly
    val e = intercept[IllegalArgumentException](
      Snapshot.read(spark, root, "nosuch").collect())
    assert(e.getMessage.contains("not written, not linked"))
  }

  test("vacuum never deletes a version a surviving link points at; rescue is transitive") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map(
      "facts" -> Seq(1L).toDF("x"), "dims" -> Seq(10L).toDF("y")))
    // v2: facts rewritten, dims linked to v1
    Snapshot.publishLinked(spark, root, Map("facts" -> Seq(2L).toDF("x")))
    // v3, v4: full publishes (no links) so v2 is unreferenced
    Snapshot.publish(spark, root, Map(
      "facts" -> Seq(3L).toDF("x"), "dims" -> Seq(30L).toDF("y")))
    // v4 links dims to v3's home
    Snapshot.publishLinked(spark, root, Map("facts" -> Seq(4L).toDF("x")))
    // keepLast = 1: v1 is rescued (v2 links it)… but only if v2 itself
    // survives — v2 is unreferenced and old, so v2 goes, then v1 loses
    // its protector and goes too UNLESS something else names it. v3 is
    // rescued because surviving v4 links to it.
    val deleted = Snapshot.vacuum(spark, root, keepLast = 1)
    assert(deleted == Seq(1L, 2L), s"got $deleted")
    // v4's linked dims still resolve after the vacuum
    assert(Snapshot.read(spark, root, "dims").as[Long].collect().toList ==
      List(30L))
    // rescue chain: rerunning vacuum deletes nothing further
    assert(Snapshot.vacuum(spark, root, keepLast = 1).isEmpty)
  }

  test("publishCompatible treats link-carried tables as reader contracts") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map(
      "facts" -> Seq(1L).toDF("x"),
      "dims" -> Seq((1L, "a")).toDF("k", "s")))
    Snapshot.publishLinked(spark, root, Map("facts" -> Seq(2L).toDF("x")))
    // v2 serves dims via link; dropping its column must refuse
    val (_, ok, violations) = Snapshot.publishCompatible(spark, root, Map(
      "facts" -> Seq(3L).toDF("x"),
      "dims" -> Seq(7L).toDF("k")))
    assert(!ok && violations.exists(_.contains("'s' dropped")))
  }

  test("eraseKeys through a link: scrubbing the physical home serves every linking version") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map(
      "facts" -> Seq(1L).toDF("x"),
      "users" -> Seq((1L, "keep"), (2L, "erase")).toDF("k", "s")))
    Snapshot.publishLinked(spark, root, Map("facts" -> Seq(2L).toDF("x")))
    val touched = Snapshot.eraseKeys(spark, root, "users", "k", Seq(2L).toDF("k"))
    // one physical home (v1) — one rewrite serves both versions
    assert(touched == Seq(1L -> 1L))
    assert(Snapshot.read(spark, root, "users", Some(2L)).as[(Long, String)]
      .collect().toList == List((1L, "keep")))
    assert(Snapshot.read(spark, root, "users", Some(1L)).as[(Long, String)]
      .collect().toList == List((1L, "keep")))
  }

  test("a crashed LINKED publish's stale sidecar cannot poison the overwriting publish") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map(
      "facts" -> Seq(1L).toDF("x"), "dims" -> Seq(10L).toDF("y")))
    // simulate a linked publish that wrote its data AND sidecar into
    // v2, then died before the manifest flip: orphan with _LINKS
    Seq(2L).toDF("x").write.parquet(s"$root/v2/facts")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$root/v2/_LINKS"),
      "dims\t1".getBytes("UTF-8"))
    // a PLAIN publish overwrites the orphan: v2 must serve ONLY its
    // own tables — the stale link must not resurrect dims
    Snapshot.publish(spark, root, Map("facts" -> Seq(3L).toDF("x")))
    assert(Snapshot.read(spark, root, "facts").as[Long].collect().toList ==
      List(3L))
    val e = intercept[IllegalArgumentException](
      Snapshot.read(spark, root, "dims"))
    assert(e.getMessage.contains("not written, not linked"))
    // fsck agrees: v2 is exactly its own table, no phantom rows
    val f2 = Snapshot.fsck(spark, root)
      .filter($"version" === 2L).as[(Long, String, String, Long)]
      .collect().toList
    assert(f2 == List((2L, "facts", "ok", 2L)))
  }

  test("storageReport accounts physical vs linked tables, rows, and bytes") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map(
      "facts" -> Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "n"),
      "dims" -> Seq((1L, "a")).toDF("k", "s")))
    Snapshot.publishLinked(spark, root, Map("facts" -> Seq((1L, 11L)).toDF("k", "n")))
    val got = Snapshot.storageReport(spark, root)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList.sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)) == List(
      (1L, 2L, 0L, 4L, 0L),   // 3 fact rows + 1 dim row, all physical
      (2L, 1L, 1L, 2L, 1L)))  // 1 new fact + 1 linked dim row
    // bytes: every version dir holds SOME physical bytes, and v2's
    // physical footprint is smaller than v1's (it stores one small
    // table + a sidecar, not the dim)
    assert(got.forall(_._6 > 0L))
    // v2 stores one small table + a sidecar, v1 stores two tables
    assert(got(1)._6 < got(0)._6)
  }

  test("catalog lists every (version, table) with counts, currency, tags, and orphans") {
    val root = freshRoot()
    Snapshot.publish(spark, root,
      Map("a" -> Seq(1L, 2L, 3L).toDF("x"), "b" -> Seq(10L).toDF("y")))
    Snapshot.publish(spark, root, Map("a" -> Seq(4L, 5L).toDF("x")))
    Snapshot.tag(spark, root, "prod", 1L)
    Snapshot.tag(spark, root, "audit", 1L)
    // crashed publish: v3 data landed, manifest never flipped
    Seq(99L).toDF("x").write.parquet(s"$root/v3/a")
    val rows = Snapshot.catalog(spark, root)
      .as[(Long, String, Long, Boolean, String)].collect().toList.sorted
    assert(rows == List(
      (1L, "a", 3L, false, "audit,prod"),
      (1L, "b", 1L, false, "audit,prod"),
      (2L, "a", 2L, true, ""),
      (3L, "a", 1L, false, "")))
  }

  test("schemaViolations alone gates the linked fast path (ADVICE r14)") {
    val root = freshRoot()
    val v1 = Seq((1L, "a")).toDF("k", "s")
    Snapshot.publish(spark, root, Map("t" -> v1))
    // the exact check the CLI --link path now runs before publishLinked
    assert(Snapshot.schemaViolations(spark, root, Map("t" -> v1)).isEmpty)
    assert(Snapshot.schemaViolations(spark, root,
      Map("t" -> v1.withColumn("extra",
        org.apache.spark.sql.functions.lit(5L)))).isEmpty)
    val viol = Snapshot.schemaViolations(spark, root,
      Map("t" -> Seq(("1", 9L)).toDF("k", "extra")))
    assert(viol.size == 2 && viol.exists(_.contains("'s' dropped")) &&
      viol.exists(_.contains("'k' retyped")))
    // empty namespace: no contract, nothing to violate
    assert(Snapshot.schemaViolations(spark, freshRoot(), Map("t" -> v1)).isEmpty)
  }

  test("branches (A35): refs publish from their own head, isolated both ways, " +
      "promote is a metadata flip, vacuum roots the branch") {
    val root = freshRoot()
    val cust = (1L to 8L).map(i => (i, s"c$i")).toDF("k", "s")
    val nat = Seq((1L, "a"), (2L, "b")).toDF("id", "n")
    Snapshot.publish(spark, root, Map("cust" -> cust, "nat" -> nat))
    Snapshot.tag(spark, root, "prod", 1L)
    Snapshot.tag(spark, root, "dev", 1L) // branch = a tag publishToRef advances
    // dev diverges twice; prod diverges once, interleaved
    val (v2, l2) = Snapshot.publishToRef(spark, root, "dev",
      Map("cust" -> cust.filter($"k" % 2 === 0)))
    assert(v2 == 2L && l2 == Map("nat" -> 1L))
    val (v3, l3) = Snapshot.publishToRef(spark, root, "prod",
      Map("nat" -> nat.filter($"id" === 1L)))
    assert(v3 == 3L && l3 == Map("cust" -> 1L))
    val (v4, l4) = Snapshot.publishToRef(spark, root, "dev",
      Map("cust" -> cust.filter($"k" % 4 === 0)))
    // dev's second publish carries nat from ITS chain (home v1), and
    // must NOT see prod's v3 nat rewrite
    assert(v4 == 4L && l4 == Map("nat" -> 1L))
    assert(Snapshot.tagVersion(spark, root, "dev") == 4L)
    assert(Snapshot.tagVersion(spark, root, "prod") == 3L)
    assert(Snapshot.readTag(spark, root, "cust", "dev").count() == 2L) // k%4
    assert(Snapshot.readTag(spark, root, "nat", "dev").count() == 2L)  // full
    assert(Snapshot.readTag(spark, root, "cust", "prod").count() == 8L) // full
    assert(Snapshot.readTag(spark, root, "nat", "prod").count() == 1L)  // filtered
    // branch gate runs against the BRANCH head: dropping a column dev
    // serves refuses and leaves the ref where it was
    val bad = intercept[IllegalArgumentException] {
      Snapshot.publishToRef(spark, root, "dev",
        Map("cust" -> Seq(1L).toDF("k"))) // drops 's'
    }
    assert(bad.getMessage.contains("dropped"), bad.getMessage)
    assert(Snapshot.tagVersion(spark, root, "dev") == 4L)
    // promote = metadata-only flip; prod now serves dev's state
    Snapshot.tag(spark, root, "prod", 4L)
    assert(Snapshot.readTag(spark, root, "cust", "prod").count() == 2L)
    // vacuum roots the refs: nothing a ref chain needs disappears
    Snapshot.publish(spark, root,
      Map("cust" -> cust, "nat" -> nat)) // v5, moves the head away
    val deleted = Snapshot.vacuum(spark, root, keepLast = 1)
    assert(!deleted.contains(4L) && !deleted.contains(1L), s"deleted $deleted")
    assert(Snapshot.readTag(spark, root, "nat", "dev").count() == 2L)
  }

  test("mergeRef: one-side changes merge, both-side changes conflict (A36)") {
    val root = freshRoot()
    val cust = (1L to 8L).map(k => (k, s"c$k")).toDF("k", "s")
    val nat = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    Snapshot.publish(spark, root, Map("cust" -> cust, "nat" -> nat)) // v1
    Snapshot.tag(spark, root, "prod", 1L)
    Snapshot.branch(spark, root, "dev", "prod")
    Snapshot.publishToRef(spark, root, "dev",
      Map("cust" -> cust.filter($"k" % 2 === 0)))                    // v2
    Snapshot.publishToRef(spark, root, "prod",
      Map("nat" -> nat.filter($"k" === 1L)))                         // v3
    val (v, homes) = Snapshot.mergeRef(spark, root, "dev", "prod")
    assert(v == 4L && homes == Map("cust" -> 2L, "nat" -> 3L), s"$v $homes")
    // zero-copy: the merged version holds ONLY metadata sidecars
    assert(new java.io.File(s"$root/v4").listFiles().map(_.getName).toSet
      .filter(!_.startsWith(".")) == Set("_LINKS", "_COMMIT"))
    assert(Snapshot.readTag(spark, root, "cust", "prod").count() == 4L)
    assert(Snapshot.readTag(spark, root, "nat", "prod").count() == 1L)
    // both refs and the base advanced to the merge
    assert(Snapshot.tagVersion(spark, root, "dev") == 4L)
    assert(Snapshot.tagVersion(spark, root, "dev-mergebase") == 4L)
    // immediate re-merge: nothing to merge
    val nm = intercept[IllegalArgumentException] {
      Snapshot.mergeRef(spark, root, "dev", "prod")
    }
    assert(nm.getMessage.contains("nothing to merge"), nm.getMessage)
    // both sides now edit cust to DIFFERENT homes: conflict, no flip
    Snapshot.publishToRef(spark, root, "dev",
      Map("cust" -> cust.filter($"k" % 4 === 0)))                    // v5
    Snapshot.publishToRef(spark, root, "prod",
      Map("cust" -> cust.filter($"k" <= 3L)))                        // v6
    val cf = intercept[IllegalArgumentException] {
      Snapshot.mergeRef(spark, root, "dev", "prod")
    }
    assert(cf.getMessage.contains("conflict") &&
      cf.getMessage.contains("cust"), cf.getMessage)
    assert(Snapshot.currentVersion(spark, root) == 6L) // nothing published
    assert(Snapshot.tagVersion(spark, root, "prod") == 6L)
    assert(Snapshot.tagVersion(spark, root, "dev") == 5L)
  }

  test("mergeRef: branch-added table merges; breaking evolution never reaches a merge (A36)") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map("t" -> Seq((1L, "a")).toDF("k", "s")))
    Snapshot.tag(spark, root, "prod", 1L)
    Snapshot.branch(spark, root, "dev", "prod")
    // dev adds a brand-new table (passes the branch gate)
    Snapshot.publishToRef(spark, root, "dev",
      Map("extra" -> Seq((7L, 1L)).toDF("k", "n")))                  // v2
    // prod evolves t additively on its own line
    Snapshot.publishToRef(spark, root, "prod",
      Map("t" -> Seq((1L, "a", 0L)).toDF("k", "s", "extra_col")))    // v3
    val (v, homes) = Snapshot.mergeRef(spark, root, "dev", "prod")
    assert(homes == Map("t" -> 3L, "extra" -> 2L), s"v$v $homes")
    assert(Snapshot.readTag(spark, root, "extra", "prod").count() == 1L)
    // merge-refusal on retype: a fresh branch whose base ALREADY has
    // the wide t, branch rewrites t narrower (dropping extra_col) —
    // the branch gate refuses that directly, proving the contract
    // holds on every path into the log
    Snapshot.branch(spark, root, "dev2", "prod")
    val bad = intercept[IllegalArgumentException] {
      Snapshot.publishToRef(spark, root, "dev2",
        Map("t" -> Seq((1L, "a")).toDF("k", "s")))
    }
    assert(bad.getMessage.contains("dropped"), bad.getMessage)
    // defense in depth: the MERGE runs its own A27 gate. publishToRef
    // already gates every branch publish, so reach the bad state the
    // only way it can arise — an ungated publish() plus a manual
    // tag() repoint — and the merge must still refuse.
    val narrowV = Snapshot.publish(spark, root,
      Map("t" -> Seq((1L, "a")).toDF("k", "s"))) // drops extra_col, ungated
    Snapshot.tag(spark, root, "dev2", narrowV)
    val mg = intercept[IllegalArgumentException] {
      Snapshot.mergeRef(spark, root, "dev2", "prod")
    }
    assert(mg.getMessage.contains("schema gate refused"), mg.getMessage)
  }

  test("mergeRef refuses a tag()-created branch (no merge base); vacuum roots merged links (A36)") {
    val root = freshRoot()
    val t0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    Snapshot.publish(spark, root, Map("t" -> t0))
    Snapshot.tag(spark, root, "prod", 1L)
    Snapshot.tag(spark, root, "dev", 1L) // no merge base recorded
    Snapshot.publishToRef(spark, root, "dev", Map("t" -> t0.filter($"k" === 1L)))
    val e = intercept[IllegalArgumentException] {
      Snapshot.mergeRef(spark, root, "dev", "prod")
    }
    assert(e.getMessage.contains("merge base"), e.getMessage)
    // with a real branch: merge, then vacuum far past the merge — the
    // links-only merged version must keep its physical homes alive
    Snapshot.branch(spark, root, "dev3", "prod")
    Snapshot.publishToRef(spark, root, "dev3", Map("t" -> t0.filter($"k" === 2L)))
    val (mv, _) = Snapshot.mergeRef(spark, root, "dev3", "prod")
    Snapshot.publish(spark, root, Map("t" -> t0)) // head moves on
    val deleted = Snapshot.vacuum(spark, root, keepLast = 1)
    assert(!deleted.contains(mv), s"merged version vacuumed: $deleted")
    assert(Snapshot.readTag(spark, root, "t", "prod").count() == 1L)
  }

  test("mergeRefRows (A38): disjoint-key edits auto-merge; row races refuse with samples") {
    val root = freshRoot()
    val baseT = Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("k", "v")
    Snapshot.publish(spark, root, Map("t" -> baseT))
    Snapshot.tag(spark, root, "prod", 1L)
    Snapshot.branch(spark, root, "dev", "prod")
    // dev: update k=1, delete k=3; prod: update k=2, insert k=5
    Snapshot.publishToRef(spark, root, "dev",
      Map("t" -> Seq((1L, 11L), (2L, 20L), (4L, 40L)).toDF("k", "v")))
    Snapshot.publishToRef(spark, root, "prod",
      Map("t" -> Seq((1L, 10L), (2L, 22L), (3L, 30L), (4L, 40L), (5L, 50L)).toDF("k", "v")))
    val (v, homes) = Snapshot.mergeRefRows(spark, root, "dev", "prod",
      Map("t" -> Seq("k")))
    assert(homes == Map("t" -> v))
    val got = Snapshot.readTag(spark, root, "t", "prod")
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 11L, 2L -> 22L, 4L -> 40L, 5L -> 50L), s"got $got")
    // update/update race on the same key refuses, nothing flips
    Snapshot.publishToRef(spark, root, "dev",
      Map("t" -> Seq((1L, 111L), (2L, 22L), (4L, 40L), (5L, 50L)).toDF("k", "v")))
    Snapshot.publishToRef(spark, root, "prod",
      Map("t" -> Seq((1L, 999L), (2L, 22L), (4L, 40L), (5L, 50L)).toDF("k", "v")))
    val head = Snapshot.currentVersion(spark, root)
    val e = intercept[IllegalArgumentException] {
      Snapshot.mergeRefRows(spark, root, "dev", "prod", Map("t" -> Seq("k")))
    }
    assert(e.getMessage.contains("row conflicts") && e.getMessage.contains("(1)"),
      e.getMessage)
    assert(Snapshot.currentVersion(spark, root) == head)
    // delete/update race also refuses: republish dev dropping k=4
    // while prod updates it — first clear the k=1 race by converging
    Snapshot.publishToRef(spark, root, "dev",
      Map("t" -> Seq((1L, 999L), (2L, 22L), (5L, 50L)).toDF("k", "v"))) // drops 4
    Snapshot.publishToRef(spark, root, "prod",
      Map("t" -> Seq((1L, 999L), (2L, 22L), (4L, 44L), (5L, 50L)).toDF("k", "v")))
    val e2 = intercept[IllegalArgumentException] {
      Snapshot.mergeRefRows(spark, root, "dev", "prod", Map("t" -> Seq("k")))
    }
    assert(e2.getMessage.contains("row conflicts") && e2.getMessage.contains("(4)"),
      e2.getMessage)
  }

  test("history (A37): ops, parents, refs, orphan attempts; sidecar-less versions read as unknown") {
    val root = freshRoot()
    val t0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    Snapshot.publish(spark, root, Map("t" -> t0))                    // v1: publish
    Snapshot.publishLinked(spark, root, Map("u" -> t0))              // v2: linked, tagless
    Snapshot.tag(spark, root, "prod", 2L)
    Snapshot.branch(spark, root, "dev", "prod")
    Snapshot.publishToRef(spark, root, "dev",
      Map("t" -> t0.filter($"k" === 1L)))                            // v3: linked, ref dev
    Snapshot.mergeRef(spark, root, "dev", "prod")                    // v4: merge
    // a version predating the sidecar must read as 'unknown', not fail
    assert(new java.io.File(s"$root/v1/_COMMIT").delete())
    val rows = Snapshot.history(spark, root)
      .select("version", "op", "parent", "written", "ref", "reachable")
      .as[(Long, String, Long, String, String, Boolean)].collect().toList.sortBy(_._1)
    assert(rows == List(
      (1L, "unknown", 0L, "", "", true),
      (2L, "linked", 1L, "u", "", true),
      (3L, "linked", 2L, "t", "dev", true),
      (4L, "merge", 3L, "", "prod", true)), s"got $rows")
  }

  test("replicate (A39): full namespace copy verified; orphans skipped; reruns refused") {
    val root = freshRoot()
    val dst = s"${root}_replica"
    val t0 = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "s")
    Snapshot.publish(spark, root, Map("t" -> t0, "u" -> t0.filter($"k" <= 2)))
    Snapshot.publishLinked(spark, root, Map("t" -> t0.filter($"k" === 1L)))
    Snapshot.tag(spark, root, "prod", 2L)
    // a crashed-publish orphan above the manifest must NOT replicate
    assert(new java.io.File(s"$root/v9/junk").mkdirs())
    val rep = Snapshot.replicate(spark, root, dst)
      .as[(Long, String, Long, Boolean)].collect().toSet
    assert(rep == Set((1L, "t", 3L, true), (1L, "u", 2L, true), (2L, "t", 1L, true)),
      s"got $rep")
    assert(!new java.io.File(s"$dst/v9").exists())
    // the replica serves through its own manifest, tag, and links
    assert(Snapshot.currentVersion(spark, dst) == 2L)
    assert(Snapshot.readTag(spark, dst, "t", "prod").count() == 1L)
    assert(Snapshot.readTag(spark, dst, "u", "prod").count() == 2L) // via copied _LINKS
    // and its history carries over (the _COMMIT sidecars copied)
    assert(Snapshot.history(spark, dst)
      .select("op").as[String].collect().toSet == Set("publish", "linked"))
    // a published destination refuses a second replication
    val e = intercept[IllegalArgumentException] {
      Snapshot.replicate(spark, root, dst)
    }
    assert(e.getMessage.contains("already published"), e.getMessage)
  }

  test("deleteRef (A40): an abandoned branch unpins its chain; vacuum reclaims it, prod untouched") {
    val root = freshRoot()
    val t0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    Snapshot.publish(spark, root, Map("t" -> t0))
    Snapshot.tag(spark, root, "prod", 1L)
    Snapshot.branch(spark, root, "dev", "prod")
    Snapshot.publishToRef(spark, root, "dev", Map("t" -> t0.filter($"k" === 1L)))
    Snapshot.publishToRef(spark, root, "prod", Map("t" -> t0.filter($"k" === 2L)))
    // while the branch lives, its chain is pinned: v1 (merge base),
    // v2 (dev head) both survive a keepLast=1 sweep
    assert(Snapshot.vacuum(spark, root, keepLast = 1).isEmpty)
    // the abandoned experiment is deleted: both the ref AND its
    // recorded merge base go, so nothing pins v1/v2 any more
    Snapshot.deleteRef(spark, root, "dev")
    intercept[IllegalArgumentException](Snapshot.tagVersion(spark, root, "dev"))
    intercept[IllegalArgumentException](Snapshot.tagVersion(spark, root, "dev-mergebase"))
    assert(Snapshot.vacuum(spark, root, keepLast = 1).sorted == Seq(1L, 2L))
    // prod serves on, the namespace is healthy
    assert(Snapshot.readTag(spark, root, "t", "prod")
      .as[(Long, String)].collect().toList == List((2L, "b")))
    assert(Snapshot.fsck(spark, root).select("status")
      .as[String].collect().toSet == Set("ok"))
    // refusals: unknown refs, and a merge base deleted on its own
    val e = intercept[IllegalArgumentException](Snapshot.deleteRef(spark, root, "dev"))
    assert(e.getMessage.contains("no ref"), e.getMessage)
    Snapshot.branch(spark, root, "dev2", "prod")
    val e2 = intercept[IllegalArgumentException](
      Snapshot.deleteRef(spark, root, "dev2-mergebase"))
    assert(e2.getMessage.contains("merge-base"), e2.getMessage)
    // a plain tag (no merge-base companion) deletes cleanly too
    Snapshot.tag(spark, root, "pin", 3L)
    Snapshot.deleteRef(spark, root, "pin")
    intercept[IllegalArgumentException](Snapshot.tagVersion(spark, root, "pin"))
    // dev2's pair is still intact (deleting its base was refused)
    assert(Snapshot.tagVersion(spark, root, "dev2") == 3L)
    assert(Snapshot.tagVersion(spark, root, "dev2-mergebase") == 3L)
  }

  test("mergeRefRows refuses duplicate keys on any side instead of fanning out (ADVICE r16)") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map("t" -> Seq((1L, 10L), (2L, 20L)).toDF("k", "v")))
    Snapshot.tag(spark, root, "prod", 1L)
    Snapshot.branch(spark, root, "dev", "prod")
    // the branch republishes with a DUPLICATED key 2 — without the
    // guard this fans out through the full-outer joins and emits
    // duplicated/mis-picked rows with no error anywhere
    Snapshot.publishToRef(spark, root, "dev",
      Map("t" -> Seq((1L, 11L), (2L, 20L), (2L, 21L)).toDF("k", "v")))
    Snapshot.publishToRef(spark, root, "prod",
      Map("t" -> Seq((1L, 10L), (2L, 22L)).toDF("k", "v")))
    val head = Snapshot.currentVersion(spark, root)
    val e = intercept[IllegalArgumentException] {
      Snapshot.mergeRefRows(spark, root, "dev", "prod", Map("t" -> Seq("k")))
    }
    assert(e.getMessage.contains("duplicate keys"), e.getMessage)
    assert(Snapshot.currentVersion(spark, root) == head)
  }

  test("fsckRepair (A41): residue classes repaired by their own rules; erased rows stay erased") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map(
      "t" -> Seq((1L, "a"), (2L, "b")).toDF("k", "s"),
      "u" -> Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "n")))
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(rel: String) = new org.apache.hadoop.fs.Path(s"$root/$rel")
    // stale residue next to the live 't' (post-swap pre-cleanup): the
    // bak holds unerased bytes — repair must DELETE, never rename back
    Seq((9L, "dead")).toDF("k", "s").write.parquet(s"$root/v1/.erase_bak_t")
    // crashed erase of 'u' between the renames: scrubbed tmp complete,
    // live dir moved aside — repair must restore the SCRUBBED half
    Seq((1L, 10L), (3L, 30L)).toDF("k", "n")
      .write.parquet(s"$root/v1/.erase_tmp_u")
    assert(hfs.rename(p("v1/u"), p("v1/.erase_bak_u")))
    val report = Snapshot.fsckRepair(spark, root)
      .as[(Long, String, String, String)].collect().toList.sorted
    assert(report == List(
      (1L, "t", "stale-erase-residue", "deleted-stale-backup"),
      (1L, "u", "crashed-erase", "restored-scrubbed")), s"got $report")
    // the namespace is clean, the erased row (k=2) stayed erased, and
    // the unerased halves are physically gone
    assert(Snapshot.fsck(spark, root).select("status")
      .as[String].collect().toSet == Set("ok"))
    assert(Snapshot.read(spark, root, "u").as[(Long, Long)].collect().toMap ==
      Map(1L -> 10L, 3L -> 30L))
    assert(Snapshot.read(spark, root, "t").count() == 2L)
    assert(!hfs.exists(p("v1/.erase_bak_t")) && !hfs.exists(p("v1/.erase_bak_u")))
    // idempotent: a clean namespace repairs nothing
    assert(Snapshot.fsckRepair(spark, root).count() == 0L)
    // backup-only residue (tmp lost too): restore the backup — data
    // back online, erasure flagged as NOT done
    assert(hfs.rename(p("v1/t"), p("v1/.erase_bak_t")))
    val r2 = Snapshot.fsckRepair(spark, root)
      .as[(Long, String, String, String)].collect().toList
    assert(r2 == List((1L, "t", "crashed-erase", "restored-backup")), s"got $r2")
    assert(Snapshot.read(spark, root, "t").count() == 2L)
    // dangling links report unrepairable and are left alone
    Snapshot.publishLinked(spark, root,
      Map("t" -> Seq((1L, "a")).toDF("k", "s"))) // v2 links u -> v1
    assert(hfs.delete(p("v1/u"), true))
    val r3 = Snapshot.fsckRepair(spark, root)
      .as[(Long, String, String, String)].collect().toList
    assert(r3 == List((2L, "u", "dangling-link", "unrepairable")), s"got $r3")
    // pre-swap tmp next to a live table: the erase never swapped — the
    // action must tell the operator to re-run it, not read as done
    Seq((1L, "a")).toDF("k", "s").write.parquet(s"$root/v1/.erase_tmp_t")
    val r4 = Snapshot.fsckRepair(spark, root)
      .as[(Long, String, String, String)].collect().toList
      .filter(_._2 == "t")
    assert(r4 == List((1L, "t", "stale-erase-residue", "deleted-stale-tmp-rerun-erase")),
      s"got $r4")
  }

  test("deleteRef deletes the merge-base first; an orphaned base is deletable (review r17)") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map("t" -> Seq(1L).toDF("x")))
    Snapshot.tag(spark, root, "prod", 1L)
    Snapshot.branch(spark, root, "dev", "prod")
    // simulate a crash AFTER the companion delete, BEFORE the ref
    // delete (the verb's own order): rerunning completes
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.delete(new org.apache.hadoop.fs.Path(s"$root/TAG.dev-mergebase"), false))
    Snapshot.deleteRef(spark, root, "dev") // no orphaned base, no refusal
    intercept[IllegalArgumentException](Snapshot.tagVersion(spark, root, "dev"))
    // an out-of-band REF removal leaves an orphaned base: deletable
    // directly (the live-branch guard no longer applies)
    Snapshot.branch(spark, root, "exp", "prod")
    assert(hfs.delete(new org.apache.hadoop.fs.Path(s"$root/TAG.exp"), false))
    Snapshot.deleteRef(spark, root, "exp-mergebase")
    intercept[IllegalArgumentException](
      Snapshot.tagVersion(spark, root, "exp-mergebase"))
  }

  test("fsck splits erase residue by live-table presence (ADVICE r14/r15)") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map("t" -> Seq((1L, "a")).toDF("k", "s")))
    // residue NEXT TO the live table 't' (crash before the swap or
    // post-swap pre-cleanup): the table serves fine, the residue is
    // garbage — 'stale-erase-residue', recovery = delete it (renaming
    // it back would clobber the live dir)
    val f = new java.io.File(s"$root/v1/.erase_bak_t")
    assert(f.mkdirs())
    // residue of a table with NO live dir (crash between the renames):
    // the table is stranded — 'crashed-erase', recovery = rename a
    // complete half back; both halves report, deduped per table
    assert(new java.io.File(s"$root/v1/.erase_tmp_u").mkdirs())
    assert(new java.io.File(s"$root/v1/.erase_bak_u").mkdirs())
    val rows = Snapshot.fsck(spark, root)
      .as[(Long, String, String, Long)].collect().toList.sorted
    assert(rows == List(
      (1L, "t", "ok", 1L),
      (1L, "t", "stale-erase-residue", 1L),
      (1L, "u", "crashed-erase", 1L)), s"got $rows")
  }

  test("fsckRepair fromReplica restores a dangling link's home; replica-less stays unrepairable") {
    val root = freshRoot()
    val rep = s"${root}_replica"
    val a = Seq((1L, "x"), (2L, "y"), (3L, "z")).toDF("k", "v")
    Snapshot.publish(spark, root, Map("a" -> a))
    Snapshot.publishLinked(spark, root, Map("b" -> Seq(9L).toDF("n")))
    Snapshot.replicate(spark, root, rep)
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(s"$root/v1/a"), true): Unit
    // without a replica: reported, untouched
    val dry = Snapshot.fsckRepair(spark, root)
      .as[(Long, String, String, String)].collect().toList
    assert(dry == List((2L, "a", "dangling-link", "unrepairable")))
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(s"$root/v1/a")))
    // with the replica: restored, checksum-proved, fsck clean, serving
    val got = Snapshot.fsckRepair(spark, root, fromReplica = Some(rep))
      .as[(Long, String, String, String)].collect().toList
    assert(got == List((2L, "a", "dangling-link", "restored-from-replica")))
    assert(Snapshot.read(spark, root, "a").as[(Long, String)].collect().toSet ==
      Set((1L, "x"), (2L, "y"), (3L, "z")))
    assert(Snapshot.fsck(spark, root)
      .filter(!org.apache.spark.sql.functions.col("status")
        .isin("ok", "linked-ok")).count() == 0L)
    // rerun finds nothing (idempotent)
    assert(Snapshot.fsckRepair(spark, root, fromReplica = Some(rep)).count() == 0L)
  }

  test("fsckRepair fromReplica: replica ALSO missing the home stays unrepairable, loudly") {
    val root = freshRoot()
    val rep = s"${root}_replica"
    Snapshot.publish(spark, root, Map("a" -> Seq(1L).toDF("x")))
    Snapshot.publishLinked(spark, root, Map("b" -> Seq(2L).toDF("y")))
    Snapshot.replicate(spark, root, rep)
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    hfs.delete(new org.apache.hadoop.fs.Path(s"$root/v1/a"), true): Unit
    hfs.delete(new org.apache.hadoop.fs.Path(s"$rep/v1/a"), true): Unit
    val got = Snapshot.fsckRepair(spark, root, fromReplica = Some(rep))
      .as[(Long, String, String, String)].collect().toList
    assert(got == List((2L, "a", "dangling-link", "unrepairable")))
    // a stranded restore tmp (crashed restore) is reported and cleaned
    hfs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/v1/.restore_tmp_a")): Unit
    assert(Snapshot.fsck(spark, root)
      .filter(org.apache.spark.sql.functions.col("status") === "stale-restore-tmp")
      .count() == 1L)
    val cleaned = Snapshot.fsckRepair(spark, root)
      .as[(Long, String, String, String)].collect().toSet
    assert(cleaned.contains((1L, "a", "stale-restore-tmp", "deleted-stale-restore-tmp")))
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(s"$root/v1/.restore_tmp_a")))
  }

  test("deleteRef refuses release refs without force (r18 guard)") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map("t" -> Seq(1L).toDF("x")))
    Snapshot.tag(spark, root, "prod", 1L)
    Snapshot.tag(spark, root, "release-2026-08", 1L)
    Snapshot.tag(spark, root, "dev", 1L)
    val e = intercept[IllegalArgumentException] {
      Snapshot.deleteRef(spark, root, "prod")
    }
    assert(e.getMessage.contains("release ref"))
    intercept[IllegalArgumentException] {
      Snapshot.deleteRef(spark, root, "release-2026-08")
    }
    // a plain branch name never needs force; force overrides the guard
    Snapshot.deleteRef(spark, root, "dev")
    Snapshot.deleteRef(spark, root, "release-2026-08", force = true)
    assert(Snapshot.tagVersion(spark, root, "prod") == 1L)
  }

  test("gcRefs sweeps by history age, keeps release + keep-list refs, takes merge bases (A42)") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map("t" -> Seq(1L).toDF("x")))
    Snapshot.tag(spark, root, "prod", 1L)
    Snapshot.publish(spark, root, Map("t" -> Seq(2L).toDF("x")))
    Snapshot.branch(spark, root, "old-exp", "prod")
    Snapshot.tag(spark, root, "old-exp", 2L)
    Snapshot.publish(spark, root, Map("t" -> Seq(3L).toDF("x")))
    Snapshot.tag(spark, root, "fresh-exp", 3L)
    Snapshot.tag(spark, root, "pinned", 2L)
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // plant deterministic history timestamps: v2 published at t=1000,
    // v3 at t=9000 (the _COMMIT sidecar format: op\tparent\twritten\tref\tts)
    def plantTs(v: Long, ts: Long): Unit = {
      val p = new org.apache.hadoop.fs.Path(s"$root/v$v/_COMMIT")
      val in = hfs.open(p)
      val parts = (try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()).split("\t", -1)
      val out = hfs.create(p, true)
      try out.write((parts.take(4).mkString("\t") + "\t" + ts).getBytes("UTF-8"))
      finally out.close()
    }
    plantTs(2L, 1000L)
    plantTs(3L, 9000L)
    // cutoff 5000 at asOf 10000: v2-parked refs are idle (age 9000),
    // v3-parked refs are fresh (age 1000)
    val swept = Snapshot.gcRefs(spark, root, olderThanMs = 5000L,
      asOfMs = Some(10000L), keep = Seq("pinned"))
    assert(swept == Seq("old-exp" -> 2L))
    val refs = hfs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("TAG."))
      .filterNot(_.startsWith("TAG.tmp.")).map(_.drop(4)).sorted.toList
    // the branch's -mergebase companion went with it
    assert(refs == List("fresh-exp", "pinned", "prod"), refs.toString)
    // sweeping everything sweepable: cutoff 0 one tick past the newest ts
    val swept2 = Snapshot.gcRefs(spark, root, 0L, Some(10000L), keep = Seq.empty)
    assert(swept2 == Seq("fresh-exp" -> 3L, "pinned" -> 2L))
    assert(Snapshot.tagVersion(spark, root, "prod") == 1L)
  }

  test("gcRefs keep-list accepts '*' globs; non-matches still sweep (r19)") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map("t" -> Seq(1L).toDF("x")))
    Seq("ci-nightly-01", "ci-nightly-02", "ci-weekly-01", "scratch")
      .foreach(Snapshot.tag(spark, root, _, 1L))
    // every ref is infinitely old (sidecar ts is real; use a far asOf)
    val swept = Snapshot.gcRefs(spark, root, olderThanMs = 0L,
      asOfMs = Some(Long.MaxValue), keep = Seq("ci-nightly-*"))
    assert(swept.map(_._1) == Seq("ci-weekly-01", "scratch"), swept.toString)
    assert(Snapshot.tagVersion(spark, root, "ci-nightly-01") == 1L)
    assert(Snapshot.tagVersion(spark, root, "ci-nightly-02") == 1L)
    // a glob is anchored: 'nightly*' must NOT protect 'ci-nightly-…'
    Snapshot.tag(spark, root, "ci-nightly-03", 1L)
    val swept2 = Snapshot.gcRefs(spark, root, 0L, Some(Long.MaxValue),
      keep = Seq("nightly*"))
    assert(swept2.map(_._1) ==
      Seq("ci-nightly-01", "ci-nightly-02", "ci-nightly-03"), swept2.toString)
  }

  test("publish fencing: a planted claim refuses; releaseClaim + rerun recover (r19)") {
    val root = freshRoot()
    Snapshot.publish(spark, root, Map("t" -> Seq(1L).toDF("x")))
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a racing (or crashed) publisher claimed v2 and wrote a partial
    // table before dying — the exact silent-interleave scenario
    hfs.create(new org.apache.hadoop.fs.Path(s"$root/_CLAIM.v2"), false).close()
    Seq(99L).toDF("x").write.parquet(s"$root/v2/partial")
    val e = intercept[IllegalStateException] {
      Snapshot.publish(spark, root, Map("t" -> Seq(2L).toDF("x")))
    }
    assert(e.getMessage.contains("already claimed"))
    // every version-creating verb fences
    intercept[IllegalStateException] {
      Snapshot.publishLinked(spark, root, Map("t" -> Seq(2L).toDF("x")))
    }
    intercept[IllegalStateException] {
      Snapshot.publishMixed(spark, root, Map("t" -> Seq(2L).toDF("x")), Map.empty)
    }
    intercept[IllegalStateException] {
      Snapshot.publishChecked(spark, root, Map("t" -> Seq(2L).toDF("x")), Seq.empty)
    }
    // nothing moved: head still v1, reads unaffected
    assert(Snapshot.currentVersion(spark, root) == 1L)
    // operator ack: the claimant is dead — release, rerun, and the
    // dead orphan (including the partial table) clears as before
    assert(Snapshot.releaseClaim(spark, root))
    assert(Snapshot.publish(spark, root, Map("t" -> Seq(2L).toDF("x"))) == 2L)
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(s"$root/v2/partial")))
    assert(Snapshot.read(spark, root, "t").as[Long].collect().toSeq == Seq(2L))
    // the successful publish released its own claim
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(s"$root/_CLAIM.v2")))
    // a STALE claim for an already-published version self-clears
    hfs.create(new org.apache.hadoop.fs.Path(s"$root/_CLAIM.v1"), false).close()
    assert(Snapshot.publish(spark, root, Map("t" -> Seq(3L).toDF("x"))) == 3L)
    assert(!hfs.exists(new org.apache.hadoop.fs.Path(s"$root/_CLAIM.v1")))
  }

  /** Leave `TAG.<name>` as a flip that crashed between its renames:
   * the old pointer moved to `.bak`; with `next`, the new pointer
   * fully written to `.tmp` too. */
  private def crashTagFlip(root: String, name: String, next: Option[Long] = None): Unit = {
    val hfs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(rel: String) = new org.apache.hadoop.fs.Path(s"$root/$rel")
    assert(hfs.rename(p(s"TAG.$name"), p(s"TAG.$name.bak")))
    next.foreach { v =>
      val out = hfs.create(p(s"TAG.$name.tmp"), true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    }
  }

  private def tagFiles(root: String): Set[String] =
    new java.io.File(root).listFiles().map(_.getName).filter(_.startsWith("TAG.")).toSet

  test("writer verbs recover a tag caught mid-flip; readers do not") {
    val root = freshRoot()
    val t0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    Snapshot.publish(spark, root, Map("t" -> t0))
    Snapshot.tag(spark, root, "prod", 1L)
    Snapshot.branch(spark, root, "dev", "prod")
    // readers see a mid-flip tag as absent and leave its residue alone
    crashTagFlip(root, "dev")
    intercept[IllegalArgumentException](Snapshot.tagVersion(spark, root, "dev"))
    intercept[IllegalArgumentException](Snapshot.readTag(spark, root, "t", "dev"))
    assert(tagFiles(root).contains("TAG.dev.bak"))
    // publishToRef rolls dev back to v1 and publishes from there
    val (v2, _) = Snapshot.publishToRef(spark, root, "dev", Map("t" -> t0.filter($"k" === 1L)))
    assert(v2 == 2L && Snapshot.tagVersion(spark, root, "dev") == 2L)
    // branch rolls prod's flip to v2 forward before reading it
    crashTagFlip(root, "prod", next = Some(2L))
    assert(Snapshot.branch(spark, root, "exp", "prod") == 2L)
    assert(Snapshot.tagVersion(spark, root, "prod") == 2L)
    // mergeRef recovers the merge base and both heads
    val (v3, _) = Snapshot.publishToRef(spark, root, "dev", Map("u" -> Seq(7L).toDF("x")))
    Seq("dev-mergebase", "dev", "prod").foreach(crashTagFlip(root, _))
    val (merged, homes) = Snapshot.mergeRef(spark, root, "dev", "prod")
    assert(homes("u") == v3 && Snapshot.tagVersion(spark, root, "prod") == merged)
    assert(tagFiles(root) == Set("prod", "dev", "dev-mergebase", "exp", "exp-mergebase")
      .map("TAG." + _))
  }

  test("deleteRef removes a ref caught mid-flip and leaves no residue to pin its chain") {
    val root = freshRoot()
    val t0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    Snapshot.publish(spark, root, Map("t" -> t0))
    Snapshot.tag(spark, root, "prod", 1L)
    Snapshot.branch(spark, root, "dev", "prod")
    Snapshot.publishToRef(spark, root, "dev", Map("t" -> t0.filter($"k" === 1L)))
    Snapshot.publishToRef(spark, root, "prod", Map("t" -> t0.filter($"k" === 2L)))
    crashTagFlip(root, "dev")
    crashTagFlip(root, "dev-mergebase", next = Some(2L))
    Snapshot.deleteRef(spark, root, "dev")
    assert(tagFiles(root) == Set("TAG.prod"))
    assert(Snapshot.vacuum(spark, root, keepLast = 1).sorted == Seq(1L, 2L))
    assert(Snapshot.readTag(spark, root, "t", "prod")
      .as[(Long, String)].collect().toList == List((2L, "b")))
  }
}

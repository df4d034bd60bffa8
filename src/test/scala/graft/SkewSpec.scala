package graft

import graft.operators.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // one hot key (90% of rows) + a long tail
  private lazy val facts = ((1 to 900).map(i => (1L, s"hot$i")) ++
    (1 to 100).map(i => (i.toLong % 7 + 2, s"cold$i"))).toDF("k", "payload")
  private lazy val dims = (1L to 9L).map(i => (i, s"dim$i")).toDF("dk", "label")

  /** Broadcast and partition coalescing off: every join shuffles on its
   * key, as one whose build side is too large to broadcast does. */
  private def shuffleRegime[T](f: => T): T = TestSpark.withConf(
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(f)

  test("saltedJoin equals the unsalted join") {
    val plain = facts.join(dims, $"k" === $"dk").select("k", "payload", "label")
    val salted = Skew.saltedJoin(facts, dims, "k", "dk", saltFactor = 8)
      .select("k", "payload", "label")
    assert(salted.count() == plain.count())
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
  }

  test("saltedJoin spreads the hot key across salt buckets") {
    // distinct payloads → content-hash salt spreads them
    val salted = facts.withColumn("__salt",
      pmod(xxhash64(struct(facts.columns.map(col).toIndexedSeq: _*)), lit(8L)))
    val buckets = salted.filter($"k" === 1L).groupBy("__salt").count().count()
    assert(buckets >= 6, s"hot key should land in most of the 8 salt buckets, got $buckets")
  }

  test("default salt is deterministic across re-evaluation") {
    // the SPARK-23207 hazard: a recomputed map task must re-derive the
    // SAME salt per row. Content hash is a pure function of the row, so
    // two independent evaluations agree exactly.
    val a = facts.withColumn("__salt",
      pmod(xxhash64(struct(facts.columns.map(col).toIndexedSeq: _*)), lit(8L)))
    val b = facts.repartition(13).withColumn("__salt",
      pmod(xxhash64(struct(facts.columns.map(col).toIndexedSeq: _*)), lit(8L)))
    assert(a.except(b).isEmpty && b.except(a).isEmpty)
  }

  test("byte-identical duplicate rows spread when a saltBy id is given") {
    // the common real skew shape: the hot key's rows are IDENTICAL, so
    // the content-derived default collapses them onto one reducer —
    // callers pass a unique id column to spread those too
    val dupFacts = (1 to 800).map(i => (i.toLong, 1L, "same")).toDF("row_id", "k", "payload")
    val viaOp = Skew.saltedJoin(dupFacts, dims, "k", "dk", saltFactor = 8, saltBy = Seq("row_id"))
    val plain = dupFacts.join(dims, $"k" === $"dk")
    assert(viaOp.count() == plain.count())
    val salted = dupFacts.withColumn("__salt", pmod(xxhash64($"row_id"), lit(8L)))
    val buckets = salted.groupBy("__salt").count().count()
    assert(buckets >= 6, s"id-salted identical rows should spread over salt buckets, got $buckets")
  }

  test("saltedCount matches plain counts") {
    val plain = facts.groupBy("k").agg(count(lit(1)).as("n"))
    val salted = Skew.saltedCount(facts, "k", 8)
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty)
    val saltedById = Skew.saltedCount(facts, "k", 8, saltBy = Seq("payload"))
    assert(saltedById.except(plain).isEmpty && plain.except(saltedById).isEmpty)
  }

  test("salted linkage candidate pairs equal the unsalted pair set exactly") {
    import graft.operators.Linkage
    // one giant block (half the records) + a tail of small blocks
    val recs = (1L to 200L).map { i =>
      val blk = if (i % 2 == 0) "giant" else s"b${i % 13}"
      (i, s"name${i % 37}x", blk)
    }.toDF("rec_id", "name", "blk")
    val plain = Linkage.linkByEditDistance(recs, "rec_id", "name", Seq("blk"), maxDist = 2)
    val salted = Linkage.linkByEditDistance(recs, "rec_id", "name", Seq("blk"),
      maxDist = 2, salts = 8)
    assert(plain.count() > 0, "probe must produce real links, not hold vacuously")
    assert(salted.except(plain).isEmpty && plain.except(salted).isEmpty,
      "salting must not add, drop, or duplicate any linked pair")
    assert(salted.count() == plain.count(), "per-pair multiplicity must be 1")
    // the giant block's a-side rows really do spread across salts
    val spreadBuckets = recs.filter($"blk" === "giant")
      .withColumn("__salt", pmod(xxhash64($"rec_id"), lit(8L)))
      .groupBy("__salt").count().count()
    assert(spreadBuckets >= 6, s"giant block should spread over salts, got $spreadBuckets")
    // the shape salting is for: one block holds half the records, the
    // join shuffles on the block key, and 160-char names at maxDist 8
    // make the verify the dominant cost
    val rnd = new scala.util.Random(0x11)
    val bases = Seq.fill(40)(rnd.alphanumeric.take(160).mkString)
    val records = (0L until 400L).map { i =>
      val chars = bases((i % 40).toInt).toCharArray
      (1 to rnd.nextInt(6)).foreach(_ => chars(rnd.nextInt(160)) = rnd.nextPrintableChar())
      (i, new String(chars), if (i % 2 == 0) "giant" else s"b${i % 64}")
    }.toDF("rec_id", "name", "blk")
    def links(salts: Int) = shuffleRegime(Linkage.linkByEditDistance(records, "rec_id", "name",
      Seq("blk"), maxDist = 8, salts = salts).as[(Long, Long, Long)].collect().toSeq)
    val blocked = links(1)
    assert(blocked.nonEmpty && blocked.distinct == blocked)
    assert(links(32).sorted == blocked.sorted, "salted pairs drifted from blocked")
  }

  test("adaptiveSaltedJoin equals the unsalted join and salts only the hot slice") {
    val plain = facts.join(dims, $"k" === $"dk").select("k", "payload", "label")
    val adaptive = Skew.adaptiveSaltedJoin(facts, dims, "k", "dk",
        saltFactor = 8, hotThreshold = 500L)
      .select("k", "payload", "label")
    assert(adaptive.count() == plain.count())
    assert(adaptive.except(plain).isEmpty && plain.except(adaptive).isEmpty)
    // threshold above every key's count -> nothing qualifies as hot,
    // the whole join takes the plain path and still matches
    val allCold = Skew.adaptiveSaltedJoin(facts, dims, "k", "dk",
        saltFactor = 8, hotThreshold = 100000L)
      .select("k", "payload", "label")
    assert(allCold.except(plain).isEmpty && plain.except(allCold).isEmpty)
  }

  test("adaptiveSaltedJoin equals the plain join on seeded random multisets") {
    val rnd = new scala.util.Random(0x5A17)
    val p = Seq.fill(400)((rnd.nextInt(12).toLong, rnd.nextInt(1000).toLong)).toDF("k", "pv")
    val b = Seq.fill(60)((rnd.nextInt(15).toLong, rnd.nextInt(1000).toLong)).toDF("bk", "bv")
    for (thr <- Seq(1L, 20L, 1000L)) {
      val plain = p.join(b, $"k" === $"bk").select("k", "pv", "bv")
        .as[(Long, Long, Long)].collect().sorted.toList
      val adaptive = Skew.adaptiveSaltedJoin(p, b, "k", "bk", 4, thr)
        .select("k", "pv", "bv").as[(Long, Long, Long)].collect().sorted.toList
      assert(adaptive == plain, s"threshold $thr")
    }
  }

  test("plain, full-salt and adaptive-salt joins agree per group under a 30% hot key") {
    val probe = spark.range(10000L).select(
      when($"id" % 10 < 3, 500L).otherwise(($"id" * 2654435761L) % 2000L).as("k"),
      ($"id" % 1000L).as("w"))
    val build = spark.range(2000L).select($"id".as("bk"), ($"id" % 97L).as("grp"))
    def rollup(j: org.apache.spark.sql.DataFrame) = shuffleRegime(
      j.groupBy("grp").agg(count(lit(1)), sum("w")).as[(Long, Long, Long)].collect().toSet)
    val plain = rollup(probe.join(build, $"k" === $"bk"))
    assert(plain.toSeq.map(_._2).sum == 10000L)
    assert(rollup(Skew.saltedJoin(probe, build, "k", "bk", saltFactor = 16)) == plain)
    assert(rollup(Skew.adaptiveSaltedJoin(probe, build, "k", "bk",
      saltFactor = 16, hotThreshold = 100L)) == plain)
  }

  test("adaptiveSaltedJoin preserves probe rows under left outer") {
    val out = Skew.adaptiveSaltedJoin(facts, dims, "k", "dk",
      saltFactor = 4, hotThreshold = 500L, joinType = "left_outer")
    assert(out.count() == facts.count(), "left outer keeps every probe row once")
    assert(out.filter($"label".isNull).count() ==
      facts.join(dims, $"k" === $"dk", "left_anti").count())
  }
}

package graft

import graft.operators.{Balance, Intervals, Islands, Rolling, Sweep}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Islands (B62), Sweep (B63), Rolling (B64): hand-checked edge
  * semantics the driver oracles exercise only statistically. */
class SeriesOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("islands groups consecutive runs, collapses duplicates, splits on gaps") {
    val df = Seq(
      (1L, 3L), (1L, 4L), (1L, 4L), (1L, 5L), // run 3-5 with a dup
      (1L, 7L),                               // singleton after a gap
      (2L, 10L)                               // other key untouched
    ).toDF("k", "p")
    val out = Islands.islands(df, "k", "p")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 3L, 5L, 3L), (1L, 7L, 7L, 1L), (2L, 10L, 10L, 1L)))
  }

  test("streakStats summarizes per key") {
    val df = Seq((1L, 1L), (1L, 2L), (1L, 5L), (1L, 6L), (1L, 7L)).toDF("k", "p")
    val r = Islands.streakStats(df, "k", "p")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toList
    assert(r == List((1L, 2L, 5L, 3L, 1L, 7L)))
  }

  test("sweep peak matches the sequential running-sum max per bucket") {
    // intervals (us): [0,25) [10,35) [20,45) with bucket width 20:
    // deltas: b0: +1@0 +1@10, b1: +1@20 -1@25 -1@35(b1? 35 div 20 = 1) ,
    // sequential levels: 1,2,3(@20),2(@25),1(@35),0(@45)
    val iv = Seq((0L, 25L), (10L, 35L), (20L, 45L)).toDF("s", "e")
    val out = Sweep.peakConcurrent(iv, "s", "e", 20L)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toList
    assert(out == List((0L, 2L, 2L), (1L, 3L, 3L), (2L, 0L, 1L)))
  }

  test("sweep end-exclusive: an interval ending when another starts never overlaps it") {
    val iv = Seq((0L, 10L), (10L, 20L)).toDF("s", "e")
    val peaks = Sweep.peakConcurrent(iv, "s", "e", 100L)
      .as[(Long, Long, Long)].collect().toList
    assert(peaks == List((0L, 1L, 4L)), "back-to-back intervals peak at 1")
  }

  test("searchSortedLong bands: below-first, on-break (inclusive), between, above-last") {
    import org.apache.spark.sql.functions.col
    val breaks = Array(10L, 20L, 30L)
    val out = Seq(5L, 10L, 11L, 20L, 29L, 30L, 99L).toDF("v")
      .select(col("v"), graft.functions.expressions.searchSortedLong(col("v"), breaks).as("b"))
      .as[(Long, Int)].collect().toMap
    assert(out == Map(5L -> 0, 10L -> 1, 11L -> 1, 20L -> 2, 29L -> 2, 30L -> 3, 99L -> 3))
    // 20k hash-spread values over 100 bands: the per-band counts equal
    // the BETWEEN join's that the binary search replaces
    val bands = Array.tabulate(100)(i => i * 10000L)
    val facts = spark.range(20000L).select((($"id" * 2654435761L) % 1000000L).as("v"))
    val viaSearch = facts.groupBy(graft.functions.expressions.searchSortedLong(col("v"), bands)
      .cast("long").as("b")).count()
    val bandTable = (0 until 100).map(i => (bands(i),
      if (i == 99) Long.MaxValue else bands(i + 1), i + 1L)).toDF("lo", "hi", "b")
    val viaJoin = facts.join(broadcast(bandTable), $"v" >= $"lo" && $"v" < $"hi")
      .groupBy("b").count()
    assert(viaSearch.as[(Long, Long)].collect().toMap == viaJoin.as[(Long, Long)].collect().toMap)
  }

  test("searchSortedLong rejects unsorted breaks") {
    import org.apache.spark.sql.functions.col
    intercept[IllegalArgumentException] {
      graft.functions.expressions.searchSortedLong(col("v"), Array(3L, 1L))
    }
  }

  test("rollingDistinct ignores NULL entities and days, like COUNT(DISTINCT)") {
    val df = Seq((Some(1L), Some(10L)), (None, Some(10L)), (Some(2L), None))
      .toDF("e", "d")
    val out = Rolling.rollingDistinct(df, "e", "d", 7)
      .as[(Long, Long)].collect().toList
    assert(out == List((10L, 1L)), "null entity/day rows must not count")
  }

  test("sweep drops intervals with a NULL endpoint instead of skewing carry-in") {
    val iv = Seq((Some(0L), Some(10L)), (Some(5L), None), (None, Some(7L)))
      .toDF("s", "e")
    val out = Sweep.peakConcurrent(iv, "s", "e", 100L)
      .as[(Long, Long, Long)].collect().toList
    assert(out == List((0L, 1L, 2L)), "only the complete interval participates")
  }

  /** 20k (entity, day) rows: 500 entities over 365 days. */
  private lazy val activity = spark.range(20000L)
    .select(($"id" % 500L).as("e"), (($"id" * 1103515245L + $"id" % 97) % 365L).as("d"))

  test("rollingDistinctApprox: deterministic across runs, within band of exact") {
    val rnd = new scala.util.Random(0x40110)
    val rows = Seq.fill(3000)((rnd.nextInt(400).toLong, rnd.nextInt(60).toLong))
    val df = rows.toDF("e", "d")
    def run() = Rolling.rollingDistinctApprox(df, "e", "d", 7)
      .as[(Long, Double)].collect().sortBy(_._1).toList
    assert(run() == run(), "sketch estimates must be run-to-run deterministic")
    val exact = Rolling.rollingDistinct(df, "e", "d", 7)
      .as[(Long, Long)].collect().toMap
    run().foreach { case (day, approx) =>
      val e = exact(day)
      assert(math.abs(approx - e) * 10 <= e, s"day $day: approx $approx vs exact $e")
    }
    // a 28-day window over a year of activity
    val exact28 = Rolling.rollingDistinct(activity, "e", "d", 28).as[(Long, Long)].collect().toMap
    val approx28 = Rolling.rollingDistinctApprox(activity, "e", "d", 28)
      .as[(Long, Double)].collect()
    assert(approx28.length == 365)
    approx28.foreach { case (day, approx) =>
      assert(math.abs(approx - exact28(day)) * 10 <= exact28(day), s"w=28 day $day: $approx")
    }
  }

  test("islands partition the distinct positions exactly (seeded random sets)") {
    val rnd = new scala.util.Random(0xBEEF)
    val rows = Seq.fill(300)((rnd.nextInt(5).toLong, rnd.nextInt(40).toLong))
    val df = rows.toDF("k", "p")
    val got = Islands.islands(df, "k", "p")
      .as[(Long, Long, Long, Long)].collect()
    // every island is a maximal consecutive run of the key's distinct set
    val byKey = rows.groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
    got.foreach { case (k, s, e, len) =>
      assert(len == e - s + 1, s"len mismatch on ($k,$s,$e)")
      (s to e).foreach(p => assert(byKey(k).contains(p), s"island covers missing pos $p"))
      assert(!byKey(k).contains(s - 1) && !byKey(k).contains(e + 1),
        s"island ($s,$e) for key $k is not maximal")
    }
    // islands cover each distinct position exactly once
    assert(got.map(_._4).sum == byKey.values.map(_.size).sum)
  }

  test("sweep peak equals a sequential reference on seeded random intervals") {
    val rnd = new scala.util.Random(0xFEED)
    val iv = Seq.fill(400) { val s = rnd.nextInt(1000).toLong; (s, s + 1 + rnd.nextInt(300)) }
    val got = Sweep.peakConcurrent(iv.toDF("s", "e"), "s", "e", 100L)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    // sequential sweep: sort all deltas by (t, delta), running sum, max per bucket
    val deltas = iv.flatMap { case (s, e) => Seq((s, 1L), (e, -1L)) }
      .sortBy(identity)
    var level = 0L
    val want = scala.collection.mutable.Map.empty[Long, Long]
    deltas.foreach { case (t, d) =>
      level += d
      val b = t / 100L
      want(b) = math.max(want.getOrElse(b, Long.MinValue), level)
    }
    assert(got == want.toMap)
  }

  test("rollingDistinct counts a window entity once and clips trailing ghosts") {
    // entity 1 active days 10 and 12 (once in any 7-day window that
    // spans both); entity 2 active day 12 only; max day 12 → no
    // cover days past 12 emitted.
    val df = Seq((1L, 10L), (1L, 10L), (1L, 12L), (2L, 12L)).toDF("e", "d")
    val out = Rolling.rollingDistinct(df, "e", "d", 7)
      .as[(Long, Long)].collect().sortBy(_._1).toList
    assert(out == List((10L, 1L), (11L, 1L), (12L, 2L)))
    // a year of activity: every day of windows 1 and 7 equals the
    // distinct count recomputed directly from the rows
    val rows = activity.as[(Long, Long)].collect()
    for (w <- Seq(1, 7)) {
      val want = (0L until 365L).map(day =>
        day -> rows.collect { case (e, d) if d > day - w && d <= day => e }.distinct.length.toLong)
      assert(Rolling.rollingDistinct(activity, "e", "d", w).as[(Long, Long)].collect()
        .sortBy(_._1).toSeq == want, s"w=$w")
    }
  }

  test("unionCoverage merges overlaps once, splits on gaps, keeps keys apart") {
    val df = Seq(
      (1L, 0L, 10L), (1L, 5L, 12L),   // overlap -> merged
      (1L, 12L, 15L),                 // touching (s == running max end): s > pm
                                      // is false, so adjacency chains the segment
      (1L, 20L, 25L),                 // gap -> second segment
      (2L, 0L, 1L)
    ).toDF("k", "s", "e")
    val out = Intervals.unionCoverage(df, "k", "s", "e")
      .select("k", "n_intervals", "n_segments", "covered", "span", "n_invalid")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // key 1: [0,15) (adjacent intervals chain: covered 15) + [20,25) = 20
    assert(out == Set((1L, 4L, 2L, 20L, 25L, 0L), (2L, 1L, 1L, 1L, 1L, 0L)))
    // 100 keys x 100 width-15 intervals: even keys step 10 and chain
    // into one segment covering 99*10 + 15; odd keys step 20 and leave
    // 100 segments covering 100*15
    val regimes = spark.range(10000L).select(($"id" % 100L).as("k"), expr("id div 100").as("j"))
      .withColumn("step", when($"k" % 2 === 0, 10L).otherwise(20L))
      .select($"k", ($"j" * $"step").as("s"), ($"j" * $"step" + 15L).as("e"))
    val byKey = Intervals.unionCoverage(regimes, "k", "s", "e")
      .select("k", "n_segments", "covered", "n_invalid").as[(Long, Long, Long, Long)].collect()
    assert(byKey.length == 100 && byKey.forall { case (k, segs, covered, invalid) =>
      invalid == 0L && (if (k % 2 == 0) segs == 1L && covered == 1005L
                        else segs == 100L && covered == 1500L) })
  }

  test("unionCoverage: contained intervals never shrink the running max") {
    // [0,100) contains [10,20) and [30,40): one segment, covered 100
    val df = Seq((1L, 0L, 100L), (1L, 10L, 20L), (1L, 30L, 40L)).toDF("k", "s", "e")
    val r = Intervals.unionCoverage(df, "k", "s", "e")
      .select("n_segments", "covered").as[(Long, Long)].head()
    assert(r == ((1L, 100L)))
  }

  test("unionCoverage counts and excludes invalid rows; invariant to partitioning") {
    val rows = (0L until 500L).flatMap { i =>
      Seq((i % 7, i * 3, i * 3 + 5), (i % 7, i * 3 + 1, i * 3 + 1)) // 2nd invalid
    }
    val a = Intervals.unionCoverage(rows.toDF("k", "s", "e"), "k", "s", "e")
      .collect().map(_.toString).toSet
    val b = Intervals.unionCoverage(rows.reverse.toDF("k", "s", "e").repartition(13),
      "k", "s", "e").collect().map(_.toString).toSet
    assert(a == b)
    val inv = Intervals.unionCoverage(rows.toDF("k", "s", "e"), "k", "s", "e")
      .agg(org.apache.spark.sql.functions.sum("n_invalid")).as[Long].head()
    assert(inv == 500L)
  }

  test("clampedRunningSum: partial absorption, recovery, and the rejected ledger") {
    // deltas 5, -10, 3: balance 5 -> 0 (7 rejected) -> 3
    val df = Seq((1L, 1L, 5L), (1L, 2L, -10L), (1L, 3L, 3L)).toDF("k", "o", "d")
    val got = Balance.clampedRunningSum(df, "k", "o", "d")
      .select("o", "prefix", "balance", "rejected")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got == List((1L, 5L, 5L, 0L), (2L, -5L, 0L, 5L), (3L, -2L, 3L, 5L)))
    val fin = Balance.clampedFinal(df, "k", "o", "d")
      .select("n_tx", "net", "rejected_total", "final_balance")
      .as[(Long, Long, Long, Long)].head()
    assert(fin == ((3L, -2L, 5L, 3L)))
  }

  test("clampedRunningSum equals the sequential fold on seeded random series") {
    val rnd = new scala.util.Random(7)
    val rows = for (k <- 0L until 40L; o <- 0L until 100L)
      yield (k, o, rnd.nextInt(41).toLong - 20L)
    val got = Balance.clampedRunningSum(
        rows.toDF("k", "o", "d").repartition(13), "k", "o", "d")
      .select("k", "o", "balance").as[(Long, Long, Long)]
      .collect().groupBy(_._1).map { case (k, g) =>
        k -> g.sortBy(_._2).map(_._3).toList }
    val want = rows.groupBy(_._1).map { case (k, g) =>
      k -> g.sortBy(_._2).map(_._3)
        .scanLeft(0L)((y, x) => math.max(0L, y + x)).tail.toList }
    assert(got == want)
  }

  test("cusumAlarms: a sustained shift fires, a single spike does not") {
    // ref 100, slack 10, h 50. Series A: level shift to 130 from t=5 —
    // S accumulates 20/step, crosses 50 at t=7. Series B: one spike to
    // 140 at t=3 — S jumps to 30, stays under h, and decays 10/step:
    // the isolated spike never fires. Series C: flat at 100 — never
    // fires. (first_alarm_ord read through coalesce(-1): a null only
    // on the no-alarm keys.)
    def mk(k: Long, xs: Seq[Long]) =
      xs.zipWithIndex.map { case (x, i) => (k, i.toLong, x, 100L, 10L, 50L) }
    val rows = mk(1L, Seq(100L, 100, 100, 100, 100, 130, 130, 130, 130, 130)) ++
      mk(2L, Seq(100L, 100, 100, 140, 100, 100, 100, 100)) ++
      mk(3L, Seq.fill(8)(100L))
    val got = Balance.cusumAlarms(
        rows.toDF("k", "o", "x", "ref", "slack", "h"),
        "k", "o", "x", "ref", "slack", "h")
      .select(col("k"), col("n_points"), col("max_cusum"), col("n_alarm"),
        coalesce(col("first_alarm_ord"), lit(-1L)).as("fa"))
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toList
    // A: deltas -10.. then +20 from t=5: S = 20,40,60,80,100 -> first
    //    alarm at t=7 (S=60), 3 alarm points, max 100
    // B: spike +30 at t=3 -> S=30, then decays 20,10,0 — never crosses 50
    // C: never fires
    assert(got == List(
      (1L, 10L, 100L, 3L, 7L),
      (2L, 8L, 30L, 0L, -1L),
      (3L, 8L, 0L, 0L, -1L)))
    // 100 keys, each flat at ref for 50 points then ref + 40 (slack 10,
    // h 500): S = 30*(o - 49) from o = 50, so the first alarm is o = 66
    // (S = 510), 34 points alarm and the max is 1500
    val shift = spark.range(10000L).select(($"id" % 100L).as("k"), expr("id div 100").as("o"))
      .select($"k", $"o", when($"o" < 50L, 100L).otherwise(140L).as("x"),
        lit(100L).as("ref"), lit(10L).as("slack"), lit(500L).as("h"))
    val profiles = Balance.cusumAlarms(shift, "k", "o", "x", "ref", "slack", "h")
      .select("max_cusum", "n_alarm", "first_alarm_ord").as[(Long, Long, Long)].collect()
    assert(profiles.length == 100 && profiles.forall(_ == ((1500L, 34L, 66L))))
  }

  test("cusumAlarms equals the sequential CUSUM fold on seeded random series") {
    val rnd = new scala.util.Random(11)
    val rows = for (k <- 0L until 25L; o <- 0L until 80L)
      yield (k, o, 100L + rnd.nextInt(61) - 30L, 100L, 5L, 40L)
    val got = Balance.cusumAlarms(
        rows.toDF("k", "o", "x", "ref", "slack", "h").repartition(9),
        "k", "o", "x", "ref", "slack", "h")
      .select(col("k"), col("max_cusum"), col("n_alarm"),
        coalesce(col("first_alarm_ord"), lit(-1L)).as("fa"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val want = rows.groupBy(_._1).map { case (k, g) =>
      val s = g.sortBy(_._2).map(t => t._3 - t._4 - t._5)
        .scanLeft(0L)((y, x) => math.max(0L, y + x)).tail
      val alarms = s.zipWithIndex.filter(_._1 > 40L)
      k -> ((s.max, alarms.size.toLong,
        alarms.headOption.map(_._2.toLong).getOrElse(-1L)))
    }
    assert(got == want)
  }
}

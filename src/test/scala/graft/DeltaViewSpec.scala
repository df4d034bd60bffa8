package graft

import graft.operators.{Incremental, WeightedQuantile}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental join-view maintenance (B66) and exact weighted
  * quantiles (B67): hand-checked delta-rule and rank edge cases. */
class DeltaViewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("deltaJoin ∪ old view ≡ full rebuild, every pair exactly once") {
    val aOld = Seq((1L, "a1"), (2L, "a2")).toDF("ak", "av")
    val aDelta = Seq((2L, "a2d"), (3L, "a3d")).toDF("ak", "av")
    val bOld = Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("bk", "bv")
    val bDelta = Seq((2L, 21L), (9L, 90L)).toDF("bk", "bv")
    val incremental = aOld.join(bOld, col("ak") === col("bk"))
      .unionByName(Incremental.deltaJoin(aOld, aDelta, bOld, bDelta, "ak", "bk"))
      .select("ak", "av", "bv").as[(Long, String, Long)].collect().sorted.toList
    val rebuild = aOld.unionByName(aDelta)
      .join(bOld.unionByName(bDelta), col("ak") === col("bk"))
      .select("ak", "av", "bv").as[(Long, String, Long)].collect().sorted.toList
    assert(incremental == rebuild)
    assert(rebuild.count(_ == ((2L, "a2", 21L))) == 1, "old-A × delta-B pair present once")
    assert(rebuild.count(_ == ((3L, "a3d", 30L))) == 1, "delta-A × old-B pair present once")
  }

  test("deltaJoin ≡ rebuild on seeded random delta splits") {
    val rnd = new scala.util.Random(0xDE17A)
    val all = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(1000).toLong))
    val bAll = Seq.fill(200)((rnd.nextInt(40).toLong, rnd.nextInt(1000).toLong))
    // row-level random split: the same key lands in BOTH old and delta
    // slices, exercising every term of the delta rule
    val (aO, aD) = all.partition(_ => rnd.nextBoolean())
    val (bO, bD) = bAll.partition(_ => rnd.nextBoolean())
    val (aOld, aDelta) = (aO.toDF("ak", "av"), aD.toDF("ak", "av"))
    val (bOld, bDelta) = (bO.toDF("bk", "bv"), bD.toDF("bk", "bv"))
    val incremental = aOld.join(bOld, col("ak") === col("bk"))
      .unionByName(Incremental.deltaJoin(aOld, aDelta, bOld, bDelta, "ak", "bk"))
      .select("ak", "av", "bv").as[(Long, Long, Long)].collect().sorted.toList
    val rebuild = aOld.unionByName(aDelta)
      .join(bOld.unionByName(bDelta), col("ak") === col("bk"))
      .select("ak", "av", "bv").as[(Long, Long, Long)].collect().sorted.toList
    assert(incremental == rebuild)
  }

  test("deltaJoin refuses overlapping column names") {
    val x = Seq((1L, 1L)).toDF("k", "v")
    intercept[IllegalArgumentException] {
      Incremental.deltaJoin(x, x, x, x, "k", "k")
    }
  }

  test("weightedQuantiles matches the sequential definition across bucket boundaries") {
    // v=1 w=1, v=2 w=1, v=3 w=2 → W=4. bucketWidth 2 puts v=1 in
    // bucket 0 and v=2,3 in bucket 1 (cross-boundary carry-in).
    // p50: r=2 → v=2; p75: r=3 → v=3; p25: r=1 → v=1; p100: r=4 → v=3.
    val df = Seq((1L, 1L), (2L, 1L), (3L, 2L)).toDF("v", "w")
    val out = WeightedQuantile.weightedQuantiles(df, "v", "w",
        Seq(250000L, 500000L, 750000L, 1000000L), 2L)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(250000L -> 1L, 500000L -> 2L, 750000L -> 3L, 1000000L -> 3L))
  }

  test("weightedQuantiles equals the sequential definition on seeded random data") {
    val rnd = new scala.util.Random(0xACE)
    val rows = Seq.fill(500)((rnd.nextInt(1000).toLong, rnd.nextInt(9).toLong + 1))
    val ppms = Seq(1L, 250000L, 500000L, 750000L, 999999L, 1000000L)
    val got = WeightedQuantile.weightedQuantiles(rows.toDF("v", "w"), "v", "w", ppms, 37L)
      .as[(Long, Long)].collect().toMap
    val byV = rows.groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val total = byV.map(_._2).sum
    ppms.foreach { p =>
      val r = (p * total + 999999L) / 1000000L
      var cum = 0L
      val want = byV.find { case (_, w) => cum += w; cum >= r }.get._1
      assert(got(p) == want, s"q_ppm=$p got=${got(p)} want=$want")
    }
    // unit weights over 10k hash-spread values: the weighted definition
    // collapses to percentile_disc
    val unit = spark.range(10000L).select((($"id" * 2654435761L) % 10000L).as("v"), lit(1L).as("w"))
    val qs = Seq(250000L, 500000L, 900000L, 990000L)
    val disc = unit.select(qs.map(q =>
      expr(s"percentile_disc(${q / 1e6}) within group (order by v)").cast("long")): _*).head()
    assert(WeightedQuantile.weightedQuantiles(unit, "v", "w", qs, 100L).as[(Long, Long)]
      .collect().toMap == qs.zipWithIndex.map { case (q, i) => q -> disc.getLong(i) }.toMap)
  }

  test("weightedQuantiles: heavy single value dominates every mid quantile") {
    val df = Seq((5L, 1L), (7L, 98L), (9L, 1L)).toDF("v", "w")
    val out = WeightedQuantile.weightedQuantiles(df, "v", "w",
        Seq(10000L, 500000L, 990000L, 1000000L), 3L)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(10000L -> 5L, 500000L -> 7L, 990000L -> 7L, 1000000L -> 9L))
  }
}

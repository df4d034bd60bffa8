package graft

import graft.operators.Skyline
import org.scalatest.funsuite.AnyFunSuite

class SkylineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(rows: Seq[(String, Long, Long, Long)], buckets: Int) =
    Skyline.frontier(rows.toDF("g", "id", "x", "y"), Seq("g"), "x", "y", buckets)
      .select("g", "id").as[(String, Long)].collect().toSet

  test("dominance semantics: strict beats, one-axis ties, duplicate points") {
    val rows = Seq(
      ("a", 1L, 10L, 100L), // frontier: cheapest
      ("a", 2L, 20L, 200L), // frontier: pricier but bigger
      ("a", 3L, 20L, 150L), // dominated by 2 (same x, smaller y)
      ("a", 4L, 30L, 200L), // dominated by 2 (pricier, same y)
      ("a", 5L, 25L, 300L), // frontier
      ("a", 6L, 25L, 300L), // duplicate of 5: BOTH kept
      ("a", 7L, 40L, 299L), // dominated by 5/6
      ("b", 8L, 99L, 1L))   // other group: alone, frontier
    val want = Set(("a", 1L), ("a", 2L), ("a", 5L), ("a", 6L), ("b", 8L))
    assert(run(rows, 64) == want)
    // bucket count must not change the answer (1 bucket = pure
    // window path; 64 on 8 rows = one row per bucket)
    assert(run(rows, 1) == want)
    assert(run(rows, 3) == want)
  }

  test("constant-x group and monotone staircase") {
    // all same price: only the max-y rows survive (including the tie)
    val flat = Seq(("a", 1L, 5L, 10L), ("a", 2L, 5L, 30L), ("a", 3L, 5L, 30L))
    assert(run(flat, 8) == Set(("a", 2L), ("a", 3L)))
    // strictly increasing x and y: everything is on the frontier
    val stairs = (1L to 20L).map(i => ("s", i, i * 10L, i * 7L))
    assert(run(stairs, 4) == stairs.map(r => ("s", r._2)).toSet)
    // strictly increasing x, DECREASING y: only the cheapest survives
    val anti = (1L to 20L).map(i => ("t", i, i * 10L, 1000L - i))
    assert(run(anti, 4) == Set(("t", 1L)))
    // 2000 rows in 64 buckets: a staircase keeps every row; a plateau
    // of 100 points per x keeps only the global (0, 99); a comb keeps
    // exactly the top-y row of each of its 20 x values
    def big(x: String, y: String) = Skyline.frontier(
      spark.range(2000L).selectExpr("'g' AS g", "id", s"$x AS x", s"$y AS y"),
      Seq("g"), "x", "y", 64).select("x", "y").as[(Long, Long)].collect()
    assert(big("id", "id").length == 2000)
    assert(big("id div 100", "id % 100").toSet == Set((0L, 99L)))
    val comb = big("id div 100", "id div 100 + id % 100")
    assert(comb.length == 20 && comb.forall { case (x, y) => y == x + 99L })
  }

  test("x spans wider than Long.MaxValue do not wrap the bucket width (ADVICE r16)") {
    // min near Long.MinValue: the Long span overflows negative; the
    // double-space width must stay positive and the frontier exact
    val rows = Seq(
      ("a", 1L, Long.MinValue + 10L, 5L),  // frontier: cheapest
      ("a", 2L, -1000L, 50L),              // frontier: mid x, better y
      ("a", 3L, 0L, 40L),                  // dominated by 2
      ("a", 4L, Long.MaxValue - 10L, 100L), // frontier: priciest, best y
      ("a", 5L, Long.MaxValue - 11L, 100L)) // dominates nothing less… beats 4
    // 5 has same y as 4 but strictly smaller x → 4 is dominated
    val want = Set(("a", 1L), ("a", 2L), ("a", 5L))
    assert(run(rows, 64) == want)
    assert(run(rows, 3) == want)
  }

  test("bucketed path agrees with the all-pairs definition on random-ish data") {
    // deterministic pseudo-random points via mix64
    val pts = (1L to 400L).map { i =>
      val h = graft.functions.HashOps.mix64(i)
      ("r", i, math.abs(h % 1000L), math.abs((h >>> 17) % 1000L))
    }
    val naive = pts.filter { case (_, _, x, y) =>
      !pts.exists { case (_, _, qx, qy) =>
        qx <= x && qy >= y && (qx < x || qy > y) }
    }.map(r => ("r", r._2)).toSet
    assert(run(pts, 16) == naive)
    assert(run(pts, 1) == naive)
  }
}

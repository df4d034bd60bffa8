package graft

import graft.operators.Layers
import org.scalatest.funsuite.AnyFunSuite

/** Layered interval resolution (B98): hand-checked override, lapse,
  * gap, and merge semantics. */
class LayersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(rows: Seq[(String, Long, Long, Long, Long, Long)]) =
    Layers.effectiveIntervals(rows.toDF("k", "vf", "vt", "prio", "tie", "v"),
        "k", "vf", "vt", "prio", "tie", "v")
      .select("k", "seg_start", "seg_end", "prio", "tie", "v")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet

  test("a higher-priority override splits the base rule, which resumes after") {
    // base [0,100) @ prio 1 value 10; campaign [20,40) @ prio 2 value 7
    val got = run(Seq(("k", 0L, 100L, 1L, 1L, 10L), ("k", 20L, 40L, 2L, 2L, 7L)))
    assert(got == Set(
      ("k", 0L, 20L, 1L, 1L, 10L),
      ("k", 20L, 40L, 2L, 2L, 7L),
      ("k", 40L, 100L, 1L, 1L, 10L)))
    // 100 keys: a base [0, 1000) under 19 overrides [50j, 50j + 20):
    // 19 override segments and 20 base pieces tile the base exactly
    val tiled = run(for (k <- 0 until 100; j <- 0L until 20L) yield
      if (j == 0L) (s"k$k", 0L, 1000L, 1L, 0L, 0L)
      else (s"k$k", 50L * j, 50L * j + 20L, 2L, j, 7L * j)).groupBy(_._1)
    assert(tiled.size == 100 && tiled.values.forall(segs =>
      segs.size == 39 && segs.toSeq.map(r => r._3 - r._2).sum == 1000L))
  }

  test("uncovered gaps produce no row; disjoint same-rule spans stay separate") {
    val got = run(Seq(("k", 0L, 10L, 1L, 1L, 5L), ("k", 20L, 30L, 1L, 1L, 5L)))
    assert(got == Set(("k", 0L, 10L, 1L, 1L, 5L), ("k", 20L, 30L, 1L, 1L, 5L)))
  }

  test("equal priority resolves by tie deterministically; zero-width dropped") {
    val got = run(Seq(
      ("k", 0L, 10L, 1L, 1L, 5L), ("k", 0L, 10L, 1L, 2L, 9L), // tie 2 wins
      ("k", 50L, 50L, 9L, 9L, 99L)))                          // vt == vf: dropped
    assert(got == Set(("k", 0L, 10L, 1L, 2L, 9L)))
  }

  test("invariant to partitioning on a layered random instance") {
    val rnd = new scala.util.Random(98)
    val rows = for (i <- 0 until 300) yield {
      val s = rnd.nextInt(200).toLong
      (s"k${i % 5}", s, s + 1 + rnd.nextInt(30), rnd.nextInt(3).toLong,
        i.toLong, rnd.nextInt(100).toLong)
    }
    val a = run(rows)
    val b = Layers.effectiveIntervals(
        rows.reverse.toDF("k", "vf", "vt", "prio", "tie", "v").repartition(17),
        "k", "vf", "vt", "prio", "tie", "v")
      .select("k", "seg_start", "seg_end", "prio", "tie", "v")
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(a == b)
    // coverage sanity: every emitted instant is covered by its winner
    val ivs = rows.map(r => (r._1, r._2, r._3, r._4, r._5, r._6))
    a.foreach { case (k, s, e, p, t, v) =>
      assert(s < e)
      val win = ivs.find(i => i._1 == k && i._5 == t).get
      assert(win._2 <= s && e <= win._3 && win._4 == p && win._6 == v)
    }
  }
}

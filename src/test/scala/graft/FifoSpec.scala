package graft

import graft.operators.Fifo
import org.scalatest.funsuite.AnyFunSuite

/** FIFO lot matching (B95): hand-checked lot splits plus equality
  * with a sequential two-pointer simulation on seeded random logs. */
class FifoSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def run(rows: Seq[(String, Long, Long, Boolean, Long)]) =
    Fifo.fifoCogs(rows.toDF("k", "ord", "q", "is_out", "c"),
        "k", "ord", "q", "is_out", "c")
      .select("k", "cogs", "matched_qty", "in_qty", "out_qty", "unmatched_qty")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap

  test("a sale spanning two lots splits its cost basis at the lot boundary") {
    // buy 10 @ 5, buy 10 @ 9; sell 15 -> 10*5 + 5*9 = 95
    val got = run(Seq(
      ("p", 1L, 10L, false, 5L), ("p", 2L, 10L, false, 9L),
      ("p", 3L, 15L, true, 0L)))
    assert(got("p") == ((95L, 15L, 20L, 15L, 0L)))
    // 100 keys: 70 buys of 10 at unit cost = lot index, then 30 sells
    // of 10 consume the first 30 lots whole: cogs 10 * (0 + ... + 29)
    val lots = run(for (k <- 0 until 100; o <- 0L until 100L)
      yield (s"k$k", o, 10L, o >= 70L, if (o < 70L) o else 0L))
    assert(lots.size == 100 && lots.values.forall(_ == ((4350L, 300L, 700L, 300L, 0L))))
  }

  test("oversell surfaces as unmatched, never costed; sell-before-buy still FIFO") {
    // sells precede buys in time but FIFO is by cumulative position:
    // buy 5 @ 7 covers the first 5 sold units; 3 units unmatched
    val got = run(Seq(
      ("p", 1L, 8L, true, 0L), ("p", 2L, 5L, false, 7L)))
    assert(got("p") == ((35L, 5L, 5L, 8L, 3L)))
    // key with no outflow at all: zero cogs row still present
    val got2 = run(Seq(("q", 1L, 4L, false, 3L)))
    assert(got2("q") == ((0L, 0L, 4L, 0L, 0L)))
  }

  test("equals the sequential two-pointer FIFO on seeded random logs") {
    val rnd = new scala.util.Random(0xF1F0)
    val rows = for (k <- 0 until 20; o <- 0 until 60) yield
      (s"k$k", o.toLong, 1L + rnd.nextInt(9).toLong, rnd.nextInt(3) == 0,
        1L + rnd.nextInt(50).toLong)
    val got = run(rows)
    rows.groupBy(_._1).foreach { case (k, g) =>
      val ordered = g.sortBy(_._2)
      // sequential PERIODIC-FIFO reference: k-th unit out costed
      // against k-th unit in, each side in its own order
      val lots = scala.collection.mutable.Queue.empty[(Long, Long)]
      ordered.collect { case (_, _, q, false, c) => lots.enqueue((q, c)) }
      val inQ = lots.map(_._1).sum
      val outQ = ordered.collect { case (_, _, q, true, _) => q }.sum
      var (cogs, matched) = (0L, 0L)
      var need = outQ
      while (need > 0 && lots.nonEmpty) {
        val (avail, cost) = lots.dequeue()
        val take = math.min(avail, need)
        cogs += take * cost; matched += take; need -= take
      }
      assert(got(k) == ((cogs, matched, inQ, outQ, outQ - matched)), s"key $k")
    }
  }

  // (k, ord, day, q, is_out, unit_cost)
  private def aging(rows: Seq[(String, Long, Long, Long, Boolean, Long)],
      asOf: Long, breaks: Seq[Long]) =
    Fifo.agingBuckets(rows.toDF("k", "ord", "day", "q", "is_out", "c"),
        "k", "ord", "day", "q", "is_out", "c", asOf, breaks)
      .select("bucket", "n_lots", "on_hand_qty", "on_hand_value_cents")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("agingBuckets: FIFO remnant splits a lot at the consumption boundary") {
    // lots: 10 @ day 0 (cost 5), 10 @ day 50 (cost 9); sold 13 ->
    // lot 1 fully gone, lot 2 keeps 7 units @ 9. asOf 100: age 50.
    val got = aging(Seq(
      ("p", 1L, 0L, 10L, false, 5L), ("p", 2L, 50L, 10L, false, 9L),
      ("p", 3L, 0L, 13L, true, 0L)), asOf = 100L, breaks = Seq(30L, 60L))
    assert(got == Map("031-060" -> ((1L, 7L, 63L))))
  }

  test("agingBuckets: untouched, fully-consumed, and oversold keys") {
    val got = aging(Seq(
      ("a", 1L, 10L, 4L, false, 3L),                        // no outflow
      ("b", 1L, 10L, 4L, false, 3L), ("b", 2L, 0L, 4L, true, 0L), // all gone
      ("c", 1L, 10L, 4L, false, 3L), ("c", 2L, 0L, 9L, true, 0L)  // oversold
    ), asOf = 20L, breaks = Seq(30L))
    // only key a survives: 4 units @ 3, age 10 -> first bucket
    assert(got == Map("000-030" -> ((1L, 4L, 12L))))
  }

  test("agingBuckets: bucket labels zero-pad to the widest break (order = age order)") {
    val got = aging(Seq(
      ("a", 1L, 0L, 2L, false, 10L),    // age 2000 -> tail bucket
      ("b", 1L, 1500L, 3L, false, 10L), // age 500 -> 0366-1000
      ("c", 1L, 1900L, 5L, false, 10L)  // age 100 -> 0000-0365
    ), asOf = 2000L, breaks = Seq(365L, 1000L))
    assert(got == Map(
      "0000-0365" -> ((1L, 5L, 50L)),
      "0366-1000" -> ((1L, 3L, 30L)),
      "1001+" -> ((1L, 2L, 20L))))
    assert(got.keys.toList.sorted == List("0000-0365", "0366-1000", "1001+"))
  }

  test("agingBuckets: partitioning invariance") {
    val rows = (0 until 500).map { i =>
      (s"k${i % 20}", i.toLong, (i % 97).toLong, (i % 7 + 1).toLong,
        i % 3 == 0, (i % 11 + 1).toLong)
    }
    val df = rows.toDF("k", "ord", "day", "q", "is_out", "c")
    val a = Fifo.agingBuckets(df, "k", "ord", "day", "q", "is_out", "c",
      100L, Seq(30L, 60L)).collect().map(_.toString).sorted.toList
    val b = Fifo.agingBuckets(df.repartition(11), "k", "ord", "day", "q",
      "is_out", "c", 100L, Seq(30L, 60L)).collect().map(_.toString).sorted.toList
    assert(a == b && a.nonEmpty)
  }
}

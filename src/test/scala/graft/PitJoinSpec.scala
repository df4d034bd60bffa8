package graft

import graft.operators.{JoinDiag, Scd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Point-in-time SCD2 join (B69) and join preflight diagnostics
  * (B68): containment, gap, zero-width and zero-side edge cases. */
class PitJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("pitJoin matches the interval covering each fact timestamp") {
    // dim for key 1: state a [10, 20), b [20, null)
    val dim = Seq(
      (1L, "a", 10L, Some(20L), false),
      (1L, "b", 20L, None: Option[Long], true)
    ).toDF("k", "state", "valid_from", "valid_to", "is_current")
    val facts = Seq((100L, 1L, 5L), (101L, 1L, 10L), (102L, 1L, 19L),
      (103L, 1L, 20L), (104L, 1L, 99L), (105L, 2L, 50L))
      .toDF("fid", "k", "ts")
    val out = Scd.pitJoin(facts, dim, "k", "k", "ts", Seq("state"))
      .select("fid", "pit_state").as[(Long, Option[String])].collect().toMap
    assert(out(100L).isEmpty, "fact before first interval gets null state")
    assert(out(101L).contains("a"), "valid_from is inclusive")
    assert(out(102L).contains("a"))
    assert(out(103L).contains("b"), "valid_to is exclusive: boundary flips to next state")
    assert(out(104L).contains("b"), "open current interval covers the future")
    assert(out(105L).isEmpty, "key with no dimension rows")
    // 1000 keys x states [0, 1000), [1000, 2000), [2000, open): each of
    // 5000 facts lands in state min(ts div 1000, 2)
    val states = spark.range(1000L).select($"id".as("k"), explode(sequence(lit(0L), lit(2L))).as("s"))
      .select($"k", concat(lit("st"), $"s").as("state"), ($"s" * 1000L).as("valid_from"),
        when($"s" < 2L, ($"s" + 1L) * 1000L).as("valid_to"))
    val spread = spark.range(5000L).select($"id".as("fid"), ($"id" % 1000L).as("k"),
      (($"id" * 2654435761L) % 3000L).as("ts"))
    val pit = Scd.pitJoin(spread, states, "k", "k", "ts", Seq("state"))
    assert(pit.count() == 5000L && pit.filter($"pit_state".isNull ||
      $"pit_state" =!= concat(lit("st"), least(expr("ts div 1000"), lit(2L)))).isEmpty)
  }

  test("pitJoin: coverage gaps yield null, zero-width intervals never match") {
    // gap between [10, 20) and [40, null); zero-width [10, 10) decoy
    // state z must never surface.
    val dim = Seq(
      (1L, "z", 10L, Some(10L)),
      (1L, "a", 10L, Some(20L)),
      (1L, "b", 40L, None: Option[Long])
    ).toDF("k", "state", "valid_from", "valid_to")
    val facts = Seq((1L, 1L, 15L), (2L, 1L, 30L), (3L, 1L, 40L)).toDF("fid", "k", "ts")
    val out = Scd.pitJoin(facts, dim, "k", "k", "ts", Seq("state"))
      .select("fid", "pit_state").as[(Long, Option[String])].collect().toMap
    assert(out(1L).contains("a"), "zero-width interval at the same instant is ignored")
    assert(out(2L).isEmpty, "timestamp in a coverage gap gets null, not the stale state")
    assert(out(3L).contains("b"))
  }

  test("pitJoin equals brute-force interval containment on seeded random dims") {
    val rnd = new scala.util.Random(0xD1CE)
    // random per-key interval chains (contiguous from type2's shape)
    val dims = (1L to 20L).flatMap { k =>
      val starts = Seq.fill(rnd.nextInt(5) + 1)(rnd.nextInt(100).toLong).distinct.sorted
      starts.zipWithIndex.map { case (s, i) =>
        val end = if (i + 1 < starts.length) Some(starts(i + 1)) else None
        (k, s"s$s", s, end)
      }
    }
    val facts = Seq.tabulate(300)(i => (i.toLong, rnd.nextInt(20).toLong + 1, rnd.nextInt(120).toLong))
    val dimDf = dims.toDF("k", "state", "valid_from", "valid_to")
    val out = Scd.pitJoin(facts.toDF("fid", "k", "ts"), dimDf, "k", "k", "ts", Seq("state"))
      .select("fid", "pit_state").as[(Long, Option[String])].collect().toMap
    facts.foreach { case (fid, k, ts) =>
      val want = dims.filter(d => d._1 == k && d._3 <= ts &&
        d._4.forall(ts < _) && !d._4.contains(d._3)).map(_._2).headOption
      assert(out(fid) == want, s"fid=$fid k=$k ts=$ts")
    }
  }

  test("joinProfile reports hot keys by contribution, including one-sided keys") {
    val a = Seq(1L, 1L, 1L, 2L, 3L).toDF("ka")
    val b = Seq(1L, 1L, 2L, 4L).toDF("kb")
    val out = JoinDiag.joinProfile(a, b, "ka", "kb", topN = 10)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(out.head == ((1L, 3L, 2L, 6L)), "hot key first")
    assert(out.contains((2L, 1L, 1L, 1L)))
    assert(out.contains((3L, 1L, 0L, 0L)), "left-only key reports zero output")
    assert(out.contains((4L, 0L, 1L, 0L)), "right-only key reports zero output")
  }
}

package graft

import graft.operators.{AsOf, Bitemporal, Ranged}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TemporalJoinSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // trades: (key, time, id); quotes: (key, time, price)
  private lazy val trades = Seq(
    ("A", 10L, 1L), ("A", 20L, 2L), ("A", 5L, 3L),
    ("B", 50L, 4L), ("C", 7L, 5L)
  ).toDF("sym", "t", "trade_id")
  private lazy val quotes = Seq(
    ("A", 10L, 1.0), ("A", 15L, 2.0), ("B", 60L, 3.0)
  ).toDF("q_sym", "q_t", "price")

  test("asofJoin picks the latest right row at or before each left time") {
    val out = AsOf.asofJoin(trades, quotes, "sym", "q_sym", "t", "q_t",
      rightPayload = Seq("price", "q_t"))
      .select("trade_id", "asof_price", "asof_q_t")
      .as[(Long, Option[Double], Option[Long])].collect()
      .map { case (k, p, t) => k -> ((p, t)) }.toMap
    assert(out(1L) == ((Some(1.0), Some(10L))), "inclusive: quote AT trade time matches")
    assert(out(2L) == ((Some(2.0), Some(15L))), "latest of several earlier quotes wins")
    assert(out(3L) == ((None, None)), "no quote at or before → nulls")
    assert(out(4L) == ((None, None)), "future-only quotes never match (backward join)")
    assert(out(5L) == ((None, None)), "key with no right rows at all")
  }

  test("asofJoin forward picks the earliest right row at or after each left time") {
    val out = AsOf.asofJoin(trades, quotes, "sym", "q_sym", "t", "q_t",
      rightPayload = Seq("price", "q_t"), direction = "forward")
      .select("trade_id", "asof_price", "asof_q_t")
      .as[(Long, Option[Double], Option[Long])].collect()
      .map { case (k, p, t) => k -> ((p, t)) }.toMap
    assert(out(1L) == ((Some(1.0), Some(10L))), "inclusive: quote AT trade time matches")
    assert(out(2L) == ((None, None)), "no quote at or after → nulls")
    assert(out(3L) == ((Some(1.0), Some(10L))), "earliest of several later quotes wins")
    assert(out(4L) == ((Some(3.0), Some(60L))), "future quote matches forward")
    assert(out(5L) == ((None, None)), "key with no right rows at all")
  }

  test("asofJoin: NULL left time yields NULL payload in both directions") {
    val l = Seq(("A", Some(10L), 1L), ("A", None, 2L)).toDF("sym", "t", "trade_id")
    for (d <- Seq("backward", "forward")) {
      val out = AsOf.asofJoin(l, quotes, "sym", "q_sym", "t", "q_t",
        rightPayload = Seq("price"), direction = d)
        .select("trade_id", "asof_price")
        .as[(Long, Option[Double])].collect().toMap
      assert(out(2L).isEmpty, s"NULL time must not match any quote ($d)")
      assert(out(1L).contains(1.0), s"non-NULL row still matches ($d)")
    }
  }

  test("asofJoin equals the quadratic reference join") {
    // reference semantics: left join on key + time bound, keep max right time
    val ref = trades.join(quotes,
        $"sym" === $"q_sym" && $"q_t" <= $"t", "left")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("trade_id").orderBy(col("q_t").desc_nulls_last)))
      .filter($"rk" === 1)
      .select($"trade_id", $"price".as("asof_price"))
    val got = AsOf.asofJoin(trades, quotes, "sym", "q_sym", "t", "q_t",
      rightPayload = Seq("price")).select("trade_id", "asof_price")
    assert(got.except(ref).isEmpty && ref.except(got).isEmpty)
  }

  test("asofJoin: NULL payload field on the true match is not replaced by an older row") {
    val q = Seq(("A", 5L, Some(2.0), 7L), ("A", 10L, None, 9L))
      .toDF("q_sym", "q_t", "price", "qty")
    val tr = Seq(("A", 20L, 1L)).toDF("sym", "t", "trade_id")
    val out = AsOf.asofJoin(tr, q, "sym", "q_sym", "t", "q_t",
      rightPayload = Seq("price", "qty"))
      .select("asof_price", "asof_qty").head()
    assert(out.isNullAt(0), "the t=10 match has NULL price; t=5's price must not leak")
    assert(out.getLong(1) == 9L, "all payload fields must come from the same matched row")
  }

  test("asofJoin: NULL keys and NULL right times never match (SQL join semantics)") {
    val tr = Seq((Option.empty[String], 10L, 1L), (Some("A"), 10L, 2L))
      .toDF("sym", "t", "trade_id")
    val q = Seq((Option.empty[String], Option(5L), 1.0), (Some("A"), Option.empty[Long], 2.0))
      .toDF("q_sym", "q_t", "price")
    val out = AsOf.asofJoin(tr, q, "sym", "q_sym", "t", "q_t",
      rightPayload = Seq("price"))
      .select("trade_id", "asof_price")
      .as[(Long, Option[Double])].collect().toMap
    assert(out(1L).isEmpty, "NULL-key trade must not match the NULL-key quote")
    assert(out(2L).isEmpty, "a NULL-time quote must never be the as-of match")
  }

  test("asofJoin plans a single shuffle (one window over the union)") {
    val plan = AsOf.asofJoin(trades, quotes, "sym", "q_sym", "t", "q_t",
      rightPayload = Seq("price")).queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly 1 hash exchange, plan:\n$plan")
  }

  test("asofNearest picks the closer side, ties go backward, tolerance nulls") {
    val left = Seq((1L, "k", 100L), (2L, "k", 205L), (3L, "k", 500L), (4L, "z", 10L))
      .toDF("lid", "lk", "lt")
    val right = Seq(("k", 90L, 1L), ("k", 110L, 2L), ("k", 200L, 3L), ("k", 210L, 4L))
      .toDF("rk", "rt", "rid")
    val got = graft.operators.AsOf.asofNearest(left, right,
        "lk", "rk", "lt", "rt", Seq("rid"), outPrefix = "m_", maxGap = Some(50L))
      .select("lid", "m_rid", "m_gap")
      .as[(Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    // lid 1 at t=100: 90 (gap 10) vs 110 (gap 10) — tie, backward wins
    assert(got(1L) == ((Some(1L), Some(10L))))
    // lid 2 at t=205: 200 (5) beats 210 (5)? tie again -> backward (200)
    assert(got(2L) == ((Some(3L), Some(5L))))
    // lid 3 at t=500: nearest is 210 at gap 290 > maxGap 50 -> nulls
    assert(got(3L) == ((None, None)))
    // lid 4: key with no right rows -> nulls
    assert(got(4L) == ((None, None)))
    // 1000 keys quoted at 0, 1000 and 2000; 5000 facts: the nearest is
    // ts rounded to a thousand, remainder 500 backward, capped at 2000
    val quotes = spark.range(1000L).select($"id".as("rk"),
      explode(sequence(lit(0L), lit(2000L), lit(1000L))).as("rt"))
    val facts = spark.range(5000L).select($"id".as("fid"), ($"id" % 1000L).as("k"),
      (($"id" * 2654435761L) % 3000L).as("ts"))
    val nearest = graft.operators.AsOf.asofNearest(facts, quotes, "k", "rk", "ts", "rt",
      Seq("rt"), outPrefix = "m_")
    val want = when($"ts" % 1000L <= 500L, expr("ts div 1000") * 1000L)
      .otherwise(least(lit(2000L), (expr("ts div 1000") + 1L) * 1000L))
    assert(nearest.count() == 5000L && nearest.filter($"m_rt".isNull || $"m_rt" =!= want).isEmpty)
  }

  test("asofNearest equals the quadratic argmin on random data") {
    val rnd = new scala.util.Random(11)
    val left = (1 to 200).map(i =>
      (i.toLong, s"k${rnd.nextInt(4)}", rnd.nextInt(1000).toLong)).toDF("lid", "lk", "lt")
    val rightRows = (1 to 150).map(i =>
      (s"k${rnd.nextInt(4)}", rnd.nextInt(1000).toLong, i.toLong))
      .groupBy(r => (r._1, r._2)).map(_._2.maxBy(_._3)).toSeq // unique (key, time)
    val right = rightRows.toDF("rk", "rt", "rid")
    val got = graft.operators.AsOf.asofNearest(left, right,
        "lk", "rk", "lt", "rt", Seq("rid"), outPrefix = "m_")
      .select("lid", "m_rid").as[(Long, Option[Long])].collect().toMap
    val want = left.as[(Long, String, Long)].collect().map { case (lid, lk, lt) =>
      val cands = rightRows.filter(_._1 == lk)
      val best =
        if (cands.isEmpty) None
        else {
          val minGap = cands.map(r => math.abs(r._2 - lt)).min
          val tied = cands.filter(r => math.abs(r._2 - lt) == minGap)
          // backward wins ties; within a side (key, time) is unique
          Some(tied.find(_._2 <= lt).getOrElse(tied.head)._3)
        }
      lid -> best
    }.toMap
    assert(got == want)
  }

  test("bandedJoin finds exactly the in-band pairs, each once") {
    val a = Seq(("u", 0L, 1L), ("u", 100L, 2L), ("u", 250L, 3L), ("v", 0L, 4L))
      .toDF("ka", "ta", "ida")
    val b = Seq(("u", 90L, 10L), ("u", 199L, 11L), ("v", 500L, 12L))
      .toDF("kb", "tb", "idb")
    val got = Ranged.bandedJoin(a, b, "ka", "kb", "ta", "tb", bandUs = 100L)
      .select("ida", "idb").as[(Long, Long)].collect().toSet
    // |ta-tb|<=100 same key: (1,10) 90; (2,10) 10; (2,11) 99; (3,11) 51;
    // (1,11) is 199 → out; v pair is 500 → out
    assert(got == Set((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L)))
  }

  test("bandedJoin band edge is inclusive and bin borders do not drop pairs") {
    val a = Seq(("k", 100L, 1L)).toDF("ka", "ta", "ida")
    // 0 and 200 are exactly band away; 201 just out; 199/101 neighbors bins
    val b = Seq(("k", 0L, 10L), ("k", 200L, 11L), ("k", 201L, 12L), ("k", 99L, 13L))
      .toDF("kb", "tb", "idb")
    val got = Ranged.bandedJoin(a, b, "ka", "kb", "ta", "tb", bandUs = 100L)
      .select("idb").as[Long].collect().toSet
    assert(got == Set(10L, 11L, 13L))
  }

  test("bandedJoin matches the naive theta join on random data") {
    val rnd = new scala.util.Random(7)
    val xs = (1 to 300).map(i => (s"k${rnd.nextInt(5)}", rnd.nextInt(1000).toLong, i.toLong))
    val a = xs.toDF("ka", "ta", "ida")
    val b = xs.map { case (k, t, i) => (k, t, i + 1000L) }.toDF("kb", "tb", "idb")
    val naive = a.join(b, $"ka" === $"kb" && abs($"ta" - $"tb") <= 37L)
      .select("ida", "idb")
    val banded = Ranged.bandedJoin(a, b, "ka", "kb", "ta", "tb", bandUs = 37L)
      .select("ida", "idb")
    assert(banded.count() == naive.count())
    assert(banded.except(naive).isEmpty && naive.except(banded).isEmpty)
  }

  test("bitemporalJoin: audit time decides original vs correction vs none") {
    // dim for key K: interval [10, 20) originally 'a' (known at 12),
    // corrected to 'A' (known at 30); open interval [20, null) 'b' (known 22)
    val dim = Seq(
      ("K", 10L, Some(20L), 12L, "a", 1L),
      ("K", 10L, Some(20L), 30L, "A", 2L),
      ("K", 20L, None,      22L, "b", 3L)
    ).toDF("k", "vf", "vt", "sf", "state", "seq")
    // facts: valid time 15 (interval 1) audited at 13 / 35; valid 25
    // (open interval) audited at 25; valid 5 (before history) audited 99
    val facts = Seq(
      (1L, "K", 15L, 13L), // only the original known -> 'a'
      (2L, "K", 15L, 35L), // correction known -> 'A'
      (3L, "K", 25L, 25L), // open interval -> 'b'
      (4L, "K", 5L, 99L),  // valid before any interval -> none
      (5L, "K", 15L, 11L)  // NOTHING yet known about [10,20) -> none
    ).toDF("fid", "k", "v", "a")
    val out = Bitemporal.bitemporalJoin(facts, dim,
        "fid", "k", "k", "v", "a", "vf", "vt", "sf", Seq("state"), "seq")
      .select(col("fid"), coalesce(col("bt_state"), lit("none")).as("st"),
        col("bt_sys_from"))
      .as[(Long, String, Option[Long])].collect().toSet
    assert(out == Set(
      (1L, "a", Some(12L)), (2L, "A", Some(30L)), (3L, "b", Some(22L)),
      (4L, "none", None), (5L, "none", None)))
  }

  test("bitemporalJoin breaks exact sys-time ties by the tie column, deterministically") {
    val dim = Seq(
      ("K", 10L, Option.empty[Long], 12L, "x", 1L),
      ("K", 10L, Option.empty[Long], 12L, "y", 2L) // same sf: higher seq wins
    ).toDF("k", "vf", "vt", "sf", "state", "seq")
    val facts = Seq((1L, "K", 15L, 99L)).toDF("fid", "k", "v", "a")
    val st = Bitemporal.bitemporalJoin(facts, dim,
        "fid", "k", "k", "v", "a", "vf", "vt", "sf", Seq("state"), "seq")
      .select("bt_state").as[String].head()
    assert(st == "y")
  }
}

package graft

import graft.operators.Constraints
import graft.operators.Constraints._
import org.scalatest.funsuite.AnyFunSuite

class ConstraintsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def auditMap(df: org.apache.spark.sql.DataFrame,
      cs: Seq[Constraint]): Map[String, Long] =
    Constraints.audit(df, cs).select("constraint", "violations")
      .as[(String, Long)].collect().toMap

  test("row-local constraints count nulls, bad values, out-of-range") {
    val df = Seq(
      (1L, Some("a"), 5L), (2L, None, 50L), (3L, Some("zz"), -1L),
      (4L, Some("b"), 5L)).toDF("id", "s", "x")
    val got = auditMap(df, Seq(
      NotNull("s"),
      AcceptedValues("s", Seq("a", "b")),
      InRange("x", 0L, 10L)))
    assert(got == Map(
      "not_null(s)" -> 1L,
      "accepted_values(s)" -> 1L, // 'zz'; the NULL is not double-counted
      "in_range(x)" -> 2L))       // 50 and -1
  }

  test("unique counts second occurrences, not pairs") {
    // key 7 appears 4 times: 3 violations (not C(4,2)=6)
    val df = Seq(7L, 7L, 7L, 7L, 8L, 9L).toDF("k")
    val got = auditMap(df, Seq(Unique(Seq("k"))))
    assert(got("unique(k)") == 3L)
    // composite key: (1,1) duplicated once
    val df2 = Seq((1L, 1L), (1L, 1L), (1L, 2L)).toDF("a", "b")
    assert(auditMap(df2, Seq(Unique(Seq("a", "b"))))("unique(a,b)") == 1L)
  }

  test("ref integrity counts orphans, null FKs excluded, both join paths") {
    val facts = Seq(Some(1L), Some(2L), Some(99L), None).toDF("fk")
    val dim = Seq(1L, 2L, 3L).toDF("pk")
    for (bcast <- Seq(true, false)) {
      val got = auditMap(facts,
        Seq(RefIntegrity("fk", dim, "pk", broadcastDim = bcast)))
      assert(got("ref_integrity(fk)") == 1L, s"broadcastDim=$bcast")
    }
  }

  test("n_rows rides on every row; clean table audits clean") {
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val out = Constraints.audit(df,
      Seq(NotNull("s"), Unique(Seq("id"))))
      .as[(String, Long, Long)].collect().toSet
    assert(out == Set(("not_null(s)", 0L, 2L), ("unique(id)", 0L, 2L)))
  }

  test("five constraints over 10k rows count exactly the planted violations") {
    import org.apache.spark.sql.functions.{lit, when}
    // NULL s on i % 10 == 0; 'bad' on i % 100 == 7; x out of range on
    // i % 1000 == 0; every key of 5000 twice; the dimension holds the
    // even keys, so each odd key is an orphan twice
    val df = spark.range(10000L).select(($"id" % 5000L).as("k"),
      when($"id" % 10L =!= 0L,
        when($"id" % 100L === 7L, lit("bad")).otherwise(lit("ok"))).as("s"),
      when($"id" % 1000L === 0L, lit(-5L)).otherwise($"id" % 50L).as("x"))
    val dim = spark.range(2500L).select(($"id" * 2L).as("pk"))
    assert(auditMap(df, Seq(NotNull("s"), AcceptedValues("s", Seq("ok")), InRange("x", 0L, 49L),
        Unique(Seq("k")), RefIntegrity("k", dim, "pk", broadcastDim = false))) == Map(
      "not_null(s)" -> 1000L, "accepted_values(s)" -> 100L, "in_range(x)" -> 10L,
      "unique(k)" -> 5000L, "ref_integrity(k)" -> 5000L))
  }
}

package graft

import graft.operators.{Concentration, Contingency, Correlation, Interpolate, Mode, Regression}
import org.apache.spark.sql.functions.{array, concat, explode, expr, lit, when}
import org.scalatest.funsuite.AnyFunSuite

class StatsOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("groupedOls recovers an exact linear fit") {
    // y = 3x + 7 exactly: slope_scaled = 3_000_000, intercept = 7
    val df = (0L to 20L).map(x => ("g", x, 3 * x + 7)).toDF("g", "x", "y")
    val r = Regression.groupedOls(df, Seq("g"), "x", "y")
      .as[(String, Long, Long, Long)].collect().toList
    assert(r == List(("g", 21L, 3000000L, 7L)))
    // 100 groups of 100 points on y = 7x + g
    val lines = spark.range(10000L).select(($"id" % 100L).as("g"), expr("id div 100").as("x"))
      .withColumn("y", $"x" * 7L + $"g")
    val fits = Regression.groupedOls(lines, Seq("g"), "x", "y")
      .as[(Long, Long, Long, Long)].collect()
    assert(fits.length == 100 && fits.forall { case (g, n, slope, icpt) =>
      n == 100L && slope == 7000000L && icpt == g })
  }

  test("groupedOls matches the closed form on a non-linear group") {
    // points (0,0),(1,1),(2,4): num = 3*9-3*5 = 12, den = 3*5-9 = 6
    // slope = 2.0 -> 2_000_000; intercept = (5*6-12*3) div (3*6)
    //   = -6 div 18 = 0 (truncation toward zero)
    val df = Seq(("g", 0L, 0L), ("g", 1L, 1L), ("g", 2L, 4L)).toDF("g", "x", "y")
    val r = Regression.groupedOls(df, Seq("g"), "x", "y")
      .as[(String, Long, Long, Long)].collect().toList
    assert(r == List(("g", 3L, 2000000L, 0L)))
  }

  test("groupedOls emits NULL slope for a single-x group, never crashes") {
    val df = Seq(("g", 5L, 1L), ("g", 5L, 9L)).toDF("g", "x", "y")
    val r = Regression.groupedOls(df, Seq("g"), "x", "y").collect()
    assert(r.length == 1 && r(0).isNullAt(2) && r(0).isNullAt(3))
  }

  test("groupedOls is partitioning-invariant") {
    val rnd = new scala.util.Random(7)
    val rows = for {
      g <- Seq("a", "b", "c"); i <- 1 to 400
    } yield (g, rnd.nextInt(1000).toLong, rnd.nextInt(100000).toLong)
    val df = rows.toDF("g", "x", "y")
    val one = Regression.groupedOls(df.coalesce(1), Seq("g"), "x", "y")
      .as[(String, Long, Long, Long)].collect().toSet
    val many = Regression.groupedOls(df.repartition(13), Seq("g"), "x", "y")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(one == many && one.size == 3)
  }

  test("linearFill fills interior gaps with the exact integer lerp") {
    val df = Seq(("a", 0L, 10L), ("a", 4L, 30L)).toDF("k", "d", "v")
    val r = Interpolate.linearFill(df, Seq("k"), "d", "v")
      .as[(String, Long, Long, Boolean)].collect().sortBy(_._2).toList
    assert(r == List(("a", 0L, 10L, false), ("a", 1L, 15L, true),
      ("a", 2L, 20L, true), ("a", 3L, 25L, true), ("a", 4L, 30L, false)))
    // 10 keys from (0, 0) to (1000, 1000): every filled value is its day
    val spans = spark.range(10L).select($"id".as("k"), explode(array(lit(0L), lit(1000L))).as("d"))
      .withColumn("v", $"d")
    val filled = Interpolate.linearFill(spans, Seq("k"), "d", "v")
    assert(filled.count() == 10010L && filled.filter($"v" =!= $"d").isEmpty)
  }

  test("linearFill truncates a negative slope toward zero (div semantics)") {
    // (0,10) -> (3,0): d=1 fill = 10 + (-10 * 1) div 3 = 10 - 3 = 7
    val df = Seq(("a", 0L, 10L), ("a", 3L, 0L)).toDF("k", "d", "v")
    val r = Interpolate.linearFill(df, Seq("k"), "d", "v")
      .as[(String, Long, Long, Boolean)].collect().sortBy(_._2).toList
    assert(r.map(_._3) == List(10L, 7L, 4L, 0L))
  }

  test("linearFill leaves present rows untouched and keys independent") {
    val df = Seq(("a", 1L, 5L), ("a", 2L, 99L), ("a", 3L, 1L),
      ("b", 10L, 7L)).toDF("k", "d", "v")
    val r = Interpolate.linearFill(df, Seq("k"), "d", "v")
      .as[(String, Long, Long, Boolean)].collect().toSet
    assert(r == Set(("a", 1L, 5L, false), ("a", 2L, 99L, false),
      ("a", 3L, 1L, false), ("b", 10L, 7L, false)))
  }

  test("groupedMode breaks frequency ties to the smallest value") {
    val df = Seq(("g", "b"), ("g", "b"), ("g", "a"), ("g", "a"), ("g", "c"))
      .toDF("k", "v")
    val r = Mode.groupedMode(df, Seq("k"), "v")
      .as[(String, String, Long, Long)].collect().toList
    assert(r == List(("g", "a", 2L, 3L)))
    // a 9000-row hot key with ten values tied at 900, plus 15 cold keys
    val hot = spark.range(9045L).select(
      when($"id" < 9000L, lit("hot")).otherwise(concat(lit("c"), $"id" % 15L)).as("k"),
      when($"id" < 9000L, concat(lit("v"), $"id" % 10L))
        .otherwise(concat(lit("w"), $"id" % 2L)).as("v"))
    assert(Mode.groupedMode(hot, Seq("k"), "v").filter($"k" === "hot")
      .as[(String, String, Long, Long)].collect().toList == List(("hot", "v0", 900L, 10L)))
  }

  test("groupedMode is partitioning-invariant on skewed data") {
    val rows = (1 to 5000).map(i => ("hot", s"v${i % 7}")) ++
      (1 to 40).map(i => ("cold", s"v${i % 3}"))
    val df = rows.toDF("k", "v")
    val one = Mode.groupedMode(df.coalesce(1), Seq("k"), "v")
      .as[(String, String, Long, Long)].collect().toSet
    val many = Mode.groupedMode(df.repartition(17), Seq("k"), "v")
      .as[(String, String, Long, Long)].collect().toSet
    assert(one == many)
    // hot: i%7 over 1..5000 -> residues 1,2 appear 715 times, tie -> v1
    assert(one.contains(("hot", "v1", 715L, 7L)))
  }

  test("locfFill carries the last present value, never blends") {
    val df = Seq(("a", 0L, 10L), ("a", 3L, 40L), ("a", 5L, 0L)).toDF("k", "d", "v")
    val r = Interpolate.locfFill(df, Seq("k"), "d", "v")
      .as[(String, Long, Long, Boolean)].collect().sortBy(_._2).toList
    assert(r == List(("a", 0L, 10L, false), ("a", 1L, 10L, true),
      ("a", 2L, 10L, true), ("a", 3L, 40L, false), ("a", 4L, 40L, true),
      ("a", 5L, 0L, false)))
  }

  test("chiSquare matches the hand-computed 2x2 decomposition") {
    // cells: (x,u)=10 (x,v)=20 (y,u)=20 (y,v)=10; all E = 15
    // term = (O*60 - 900)^2 * 1e6 div (60*30*30) = 9e10 div 54000 = 1666666
    val rows = Seq.fill(10)(("x", "u")) ++ Seq.fill(20)(("x", "v")) ++
      Seq.fill(20)(("y", "u")) ++ Seq.fill(10)(("y", "v"))
    val got = Contingency.chiSquare(rows.toDF("a", "b"), "a", "b")
      .as[(String, String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("x", "u", 10L, 15000L, 1666666L, 1L, 60L),
      ("x", "v", 20L, 15000L, 1666666L, 1L, 60L),
      ("y", "u", 20L, 15000L, 1666666L, 1L, 60L),
      ("y", "v", 10L, 15000L, 1666666L, 1L, 60L)))
  }

  test("chiSquare emits zero terms for an exactly independent table") {
    val rows = for { a <- Seq("x", "y", "z"); b <- Seq("u", "v")
      _ <- 1 to (if (a == "x") 4 else 2) } yield (a, b)
    val got = Contingency.chiSquare(rows.toDF("a", "b"), "a", "b")
      .select("term_ppm", "dof").as[(Long, Long)].collect()
    assert(got.length == 6 && got.forall(_ == ((0L, 2L))))
  }

  test("chiSquare is partitioning-invariant") {
    val rnd = new scala.util.Random(5)
    val rows = Seq.fill(4000)((s"a${rnd.nextInt(4)}", s"b${rnd.nextInt(3)}"))
    val one = Contingency.chiSquare(rows.toDF("a", "b").coalesce(1), "a", "b")
      .collect().map(_.toString).toSet
    val many = Contingency.chiSquare(rows.toDF("a", "b").repartition(11), "a", "b")
      .collect().map(_.toString).toSet
    assert(one == many && one.size == 12)
  }

  test("giniPpm: uniform distribution scores 0, total concentration near 1e6") {
    val eq = Seq(("g", 5L, 1L), ("g", 5L, 2L), ("g", 5L, 3L), ("g", 5L, 4L))
      .toDF("g", "v", "id")
    val g0 = Concentration.giniPpm(eq, Seq("g"), "v", "id")
      .select("gini_ppm").as[Long].head()
    assert(g0 == 0L)
    // one member holds everything: G = (n-1)/n = 3/4 -> 750000 ppm
    val conc = Seq(("g", 0L, 1L), ("g", 0L, 2L), ("g", 0L, 3L), ("g", 100L, 4L))
      .toDF("g", "v", "id")
    val g1 = Concentration.giniPpm(conc, Seq("g"), "v", "id")
      .select("gini_ppm").as[Long].head()
    assert(g1 == 750000L)
  }

  test("giniPpm matches the rank formula by hand and is tie-order invariant") {
    // values 1,2,3,4: G = sum((2i-n-1)x)/(n*sumx) = ((-3)*1+(-1)*2+1*3+3*4)/(4*10)
    //               = 10/40 -> 250000 ppm
    val df = Seq(("g", 1L, 9L), ("g", 2L, 8L), ("g", 3L, 7L), ("g", 4L, 6L))
      .toDF("g", "v", "id")
    assert(Concentration.giniPpm(df, Seq("g"), "v", "id")
      .select("gini_ppm").as[Long].head() == 250000L)
    // 10 groups holding 1..1000: G = (m - 1) / (3m) = 333000 ppm
    val ramps = spark.range(10000L)
      .select(($"id" % 10L).as("g"), expr("id div 10 + 1").as("v"), $"id")
    assert(Concentration.giniPpm(ramps, Seq("g"), "v", "id").select("gini_ppm", "n")
      .as[(Long, Long)].collect().toSeq == Seq.fill(10)((333000L, 1000L)))
    // duplicated value block: internal order of the tie cannot matter
    val tied = Seq(("g", 2L, 1L), ("g", 2L, 2L), ("g", 2L, 3L), ("g", 6L, 4L))
    val a = Concentration.giniPpm(tied.toDF("g", "v", "id"), Seq("g"), "v", "id")
      .select("gini_ppm").as[Long].head()
    val b = Concentration.giniPpm(tied.reverse.toDF("g", "v", "id").repartition(7),
      Seq("g"), "v", "id").select("gini_ppm").as[Long].head()
    assert(a == b)
  }

  test("giniPpm fails loudly on negative values") {
    val df = Seq(("g", -1L, 1L), ("g", 5L, 2L)).toDF("g", "v", "id")
    val e = intercept[Exception](
      Concentration.giniPpm(df, Seq("g"), "v", "id").collect())
    assert(e.getMessage != null)
  }

  test("pairwiseR2: perfect lines hit 1e6 with the right sign; independence near 0") {
    val df = (1L to 100L).map(i => (i, 2 * i + 3, 500L - 5 * i, (i % 2) * 1000L))
      .toDF("x", "y_pos", "y_neg", "alt")
    val got = Correlation.pairwiseR2(df, Seq("x", "y_pos", "y_neg"))
      .select("measure_a", "measure_b", "r2_ppm", "r_sign")
      .as[(String, String, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got(("x", "y_pos")) == ((1000000L, 1L)))
    assert(got(("x", "y_neg")) == ((1000000L, -1L)))
    assert(got(("y_pos", "y_neg")) == ((1000000L, -1L)))
  }

  test("pairwiseR2: zero variance yields NULL r2, never a fake 0 or crash") {
    val df = Seq((1L, 5L), (2L, 5L), (3L, 5L)).toDF("x", "const")
    val r = Correlation.pairwiseR2(df, Seq("x", "const"))
      .select("r2_ppm").collect()(0)
    assert(r.isNullAt(0))
  }

  test("pairwiseR2 is exactly partitioning-invariant (the reason it exists)") {
    val rnd = new scala.util.Random(1234)
    val rows = Seq.fill(5000)((rnd.nextInt(1000).toLong,
      rnd.nextInt(1000).toLong, rnd.nextInt(1000).toLong))
    val a = Correlation.pairwiseR2(rows.toDF("a", "b", "c"), Seq("a", "b", "c"))
      .collect().map(_.toString).toSet
    val b = Correlation.pairwiseR2(
        rows.reverse.toDF("a", "b", "c").repartition(17), Seq("a", "b", "c"))
      .collect().map(_.toString).toSet
    assert(a == b)
  }

  test("kmFoldPpm folds the truncating integer product; zero at-risk fails loud") {
    import org.apache.spark.sql.functions.{array, lit}
    def fold(atRisk: Seq[Long], deaths: Seq[Long]): Seq[Long] =
      Seq(Tuple1(1)).toDF("x").select(graft.functions.expressions.kmFoldPpm(
          array(atRisk.map(lit): _*), array(deaths.map(lit): _*)).as("s"))
        .as[Seq[Long]].head()
    // 1e6 · 9/10 = 900000; · 7/9 = 700000; · 6/7 = 600000
    assert(fold(Seq(10L, 9L, 7L), Seq(1L, 2L, 1L)) == Seq(900000L, 700000L, 600000L))
    // at_risk = 0 → descriptive failure, not a raw ArithmeticException
    // (surfaces unwrapped when Catalyst constant-folds the literal
    // arrays driver-side, wrapped in a SparkException from executors)
    val e = intercept[Exception] { fold(Seq(5L, 0L), Seq(1L, 0L)) }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes(e).exists(c => c.isInstanceOf[IllegalArgumentException] &&
      c.getMessage.contains("at-risk count is 0")), e.toString)
  }
}

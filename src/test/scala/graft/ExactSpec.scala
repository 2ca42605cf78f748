package graft

import java.lang.Double.{doubleToLongBits, longBitsToDouble}
import java.lang.Math.{nextDown, nextUp}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow,
  Literal, Multiply, Round, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.engine.Exact
import graft.functions.{RoundHalfUp, RoundHalfUpDouble}

/** The half-up kernel under `Exact.scaled` against Spark's `round`: the
  * same double, bit for bit, for every input, in generated and in
  * interpreted code; and `Exact.scaled` unchanged on every other type. */
class ExactSpec extends SparkSuite {
  private val Modes = Seq("CODEGEN_ONLY", "NO_CODEGEN")
  private val TwoTo52 = 4503599627370496.0

  /** Over 1M doubles, both signs of each: ties k + 0.5 with their
    * neighbours, (−1, 0), the 2⁵² boundary, the special values,
    * money-shaped products and random bit patterns. */
  private lazy val values: Array[Double] = {
    val rnd = new scala.util.Random(20261020L)
    val b = Array.newBuilder[Double]
    def around(x: Double): Unit = { b += x; b += nextUp(x); b += nextDown(x) }
    (0L until 60000L).foreach(k => around(k + 0.5))
    (0 until 60000).foreach(_ => around((rnd.nextLong() >>> 12).toDouble + 0.5))
    (0 until 20000).foreach(_ => around(math.floor(rnd.nextDouble() * 1e9) / 100 + 0.005))
    (0 until 60000).foreach(_ => b += rnd.nextDouble())
    b += 0.49999999999999994
    var up = TwoTo52; var down = TwoTo52
    (0 until 10000).foreach { _ => b += up; b += down; up = nextUp(up); down = nextDown(down) }
    (-4000 to 4000).foreach(i => b += TwoTo52 + i * 0.25)
    b ++= Seq(Double.NaN, Double.PositiveInfinity, 0.0, Double.MaxValue,
      Double.MinPositiveValue, java.lang.Double.MIN_NORMAL, 1.5, 2.5)
    (0 until 100000).foreach { _ =>
      val price = rnd.nextInt(10000000) / 100.0
      b += 0.05 * price * Exact.MoneyScale
      b += (0.06 + rnd.nextInt(7) / 100.0) * price * Exact.MoneyScale
    }
    (0 until 50000).foreach(_ => b += longBitsToDouble(rnd.nextLong()))
    val pos = b.result()
    pos ++ pos.map(-_)
  }

  private def bits(x: Double) = doubleToLongBits(x)

  test("the kernel is Spark's round on over 1M doubles, generated and interpreted") {
    val in = BoundReference(0, DoubleType, nullable = true)
    assert(values.length >= 1000000, values.length)
    SparkSession.setActiveSession(spark) // the projection factories read its conf
    for (mode <- Modes) withConf("spark.sql.codegen.factoryMode" -> mode) {
      val proj = UnsafeProjection.create(Seq(RoundHalfUpDouble(in), Round(in, Literal(0))))
      assert(proj.getClass.getName.contains("Interpreted") == (mode == "NO_CODEGEN"),
        s"$mode built ${proj.getClass.getName}")
      val row = new GenericInternalRow(1)
      var mismatches = 0
      val examples = Seq.newBuilder[String]
      values.foreach { x =>
        row.setDouble(0, x)
        val out = proj(row)
        if (bits(out.getDouble(0)) != bits(out.getDouble(1))) {
          if (mismatches < 5) examples += s"$x: ${out.getDouble(0)} vs ${out.getDouble(1)}"
          mismatches += 1
        }
      }
      assert(mismatches == 0, s"$mode: ${examples.result()}")
      row.setNullAt(0)
      assert(proj(row).isNullAt(0) && proj(row).isNullAt(1))
      // two kernels over a non-nullable input share one generated method
      val notNull = BoundReference(0, DoubleType, nullable = false)
      val two = UnsafeProjection.create(Seq(RoundHalfUpDouble(notNull),
        RoundHalfUpDouble(Multiply(Literal(-2.5), notNull))))
      row.setDouble(0, 1.5)
      assert(two(row).getDouble(0) == 2.0 && two(row).getDouble(1) == -4.0)
    }
  }

  /** A frame of `values` read through an RDD, so the projection is not
    * folded into a local relation at optimization time. */
  private def frame(xs: Seq[Double]): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(xs, 4).toDF("x")
  }

  private def pairs(df: DataFrame, ours: Column, theirs: Column): Array[(Any, Any)] =
    df.select(ours.as("a"), theirs.as("b")).collect().map(r => (r.get(0), r.get(1)))

  /** (kernels, Spark rounds) in the physical plan of `c` over `df`. */
  private def roundsIn(df: DataFrame, c: Column): (Int, Int) = {
    val exprs = df.select(c).queryExecution.sparkPlan.collect { case p => p.expressions }
      .flatten.flatMap(_.collect { case e => e })
    (exprs.count(_.isInstanceOf[RoundHalfUpDouble]), exprs.count(_.isInstanceOf[Round]))
  }

  test("Exact.scaled on a double column plans the kernel and keeps Spark's values") {
    // every 5th value, so both signs of each kind are in
    val xs = values.indices.by(5).map(values).filter(x => math.abs(x) < 1e14)
    val df = frame(xs)
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false"))
      withConf("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage) {
        val got = pairs(df, Exact.scaled(col("x"), 1), round(col("x")).cast("long"))
        assert(got.count { case (a, b) => a != b } == 0, mode)
        val unscaled = pairs(df, RoundHalfUp.of(col("x")), round(col("x")))
        assert(unscaled.count { case (a: Double, b: Double) => bits(a) != bits(b) } == 0, mode)
      }
    assert(roundsIn(df, Exact.scaled(col("x"))) == ((1, 0)))
    // the generated column name is the one Spark's round gives
    assert(df.select(Exact.scaled(col("x"))).columns.toSeq ==
      df.select(round(col("x") * Exact.MoneyScale).cast("long")).columns.toSeq)
  }

  test("Exact.scaled on long, int, decimal and float keeps Spark's values") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val df = Seq.fill(20000) {
      val l = rnd.nextLong() % 100000000000L
      (l, (l % 100000L).toInt, BigDecimal(l, 2), (l % 10000000L).toFloat / 100 + 0.005f)
    }.toDF("l", "i", "d", "f").repartition(4)
    for (c <- Seq("l", "i", "d", "f"); scale <- Seq(Exact.MoneyScale, 1, 100)) {
      val got = pairs(df, Exact.scaled(col(c), scale), round(col(c) * scale).cast("long"))
      assert(got.count { case (a, b) => a != b } == 0, s"$c × $scale")
      // float × int is a double product, so it takes the kernel
      val double = df.select(col(c) * scale).schema.head.dataType == DoubleType
      assert(roundsIn(df, Exact.scaled(col(c), scale)) ==
        (if (double) (1, 0) else (0, 1)), s"$c × $scale")
    }
  }

  test("a NaN or infinite double fails the long cast under ANSI as before") {
    def condition(c: Column): String = {
      val e = intercept[Exception](frame(Seq(1.0, Double.NaN, Double.PositiveInfinity))
        .filter(!(col("x") === 1.0)).select(c).collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .collectFirst { case t: SparkThrowable if t.getCondition != null => t.getCondition }
        .getOrElse(fail(s"no error condition in $e"))
    }
    withConf("spark.sql.ansi.enabled" -> "true") {
      val ours = condition(Exact.scaled(col("x")))
      assert(ours == condition(round(col("x") * Exact.MoneyScale).cast("long")))
      assert(ours == "CAST_OVERFLOW", ours)
    }
  }
}

package graft

import graft.functions.JaroWinkler._

/** Spec-verified fuzzy-name family (oracle exemption documented in the
  * scaladoc: float similarity parity across engines is not
  * bit-provable, so the contract is published reference pairs + exact
  * integer invariants, the sketches' discipline). */
class JaroWinklerSpec extends SparkSuite {
  // Published reference pairs (Winkler 1990 examples as propagated by
  // the jellyfish/py_stringmatching docs), floored to exact micro.
  val published = Seq(
    // (a, b, jaro_micro, jw_micro)
    ("MARTHA", "MARHTA", 944444L, 961111L),     // m=6 t=1 prefix=3
    ("DWAYNE", "DUANE", 822222L, 840000L),      // m=4 t=0 prefix=1
    ("DIXON", "DICKSONX", 766666L, 813333L),    // m=4 t=0 prefix=2
    ("JELLYFISH", "SMELLYFISH", 896296L, 896296L)) // prefix=0

  test("published reference pairs replay exactly in integer micro-units") {
    published.foreach { case (a, b, j, jw) =>
      assert(jaroMicro(a, b) === j, s"jaro($a, $b)")
      assert(jaroWinklerMicro(a, b) === jw, s"jw($a, $b)")
    }
  }

  test("identity, empties, and disjoint strings") {
    assert(jaroMicro("ABC", "ABC") === 1000000L)
    assert(jaroWinklerMicro("ABC", "ABC") === 1000000L)
    assert(jaroMicro("", "") === 1000000L)
    assert(jaroMicro("", "ABC") === 0L)
    assert(jaroMicro("ABC", "") === 0L)
    assert(jaroMicro("ABC", "XYZ") === 0L)
    assert(jaroWinklerMicro("ABC", "XYZ") === 0L)
  }

  test("boost is applied unconditionally — pinned below the 0.7 gate") {
    // DIXON/DICKSONX truncated: j < 0.7 with a shared 2-char prefix,
    // so the thresholded (jellyfish/DuckDB) variant would return j
    // unchanged while this implementation boosts. Pins the documented
    // non-thresholded behavior where high-similarity pairs can't.
    val (a, b) = ("DIXON", "CKSONXDI")
    val j = jaroMicro(a, b)
    assert(j < 700000L, s"fixture must sit below the 0.7 gate, got $j")
    assert(jaroWinklerMicro(a, b) === j,
      "no shared prefix => boost is identity even unconditionally")
    val (c, d) = ("ABXXXX", "ABYYYYYY") // prefix=2, j < 0.7
    val jc = jaroMicro(c, d)
    assert(jc < 700000L, s"fixture must sit below the 0.7 gate, got $jc")
    assert(jaroWinklerMicro(c, d) > jc,
      "unconditional variant boosts below the gate; thresholded would not")
  }

  test("null-in/null-out: NULL names score NULL, never 1.0 or an NPE") {
    import spark.implicits._
    register(spark)
    val df = Seq[(String, String)](
      (null, null), (null, "ABC"), ("ABC", null), ("ABC", "ABC"))
      .toDF("a", "b")
    val got = df.select(jaroWinklerMicroCol($"a", $"b"))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(got(0) == null && got(1) == null && got(2) == null)
    assert(got(3) == 1000000L)
    df.createOrReplaceTempView("jw_nulls")
    val viaSql = spark.sql("SELECT jaro_micro(a, b) FROM jw_nulls")
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(viaSql(0) == null && viaSql(1) == null && viaSql(2) == null)
    assert(viaSql(3) == 1000000L)
  }

  test("symmetry, bounds, and the Winkler boost dominates Jaro") {
    // deterministic pseudo-random name corpus (seeded LCG — no float,
    // replays identically everywhere)
    var seed = 12345L
    def nextInt(n: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % n + n) % n).toInt
    }
    val names = (0 until 120).map { _ =>
      val len = nextInt(13)
      (0 until len).map(_ => ('A' + nextInt(26)).toChar).mkString
    }
    for (a <- names.take(40); b <- names.drop(40).take(40)) {
      val j = jaroMicro(a, b)
      val jw = jaroWinklerMicro(a, b)
      assert(j === jaroMicro(b, a), s"jaro symmetry $a/$b")
      assert(jw === jaroWinklerMicro(b, a), s"jw symmetry $a/$b")
      assert(j >= 0L && j <= 1000000L)
      assert(jw >= j - 1 && jw <= 1000000L) // −1: independent floors
    }
  }

  test("Column API and SQL registration agree with the JVM kernel") {
    import spark.implicits._
    register(spark)
    val df = published.map { case (a, b, _, _) => (a, b) }.toDF("a", "b")
    val viaCol = df.select(jaroWinklerMicroCol($"a", $"b")).as[Long].collect()
    df.createOrReplaceTempView("jw_pairs")
    val viaSql = spark.sql(
      "SELECT jaro_winkler_micro(a, b) FROM jw_pairs").as[Long].collect()
    val exp = published.map(_._4).toArray
    assert(viaCol.sameElements(exp))
    assert(viaSql.sameElements(exp))
  }

  test("distributed evaluation is partition-invariant (exact integers)") {
    import spark.implicits._
    val names = (0 until 200).map(i => s"NAME${i % 37}SUFF${i % 11}")
    val pairs = names.zip(names.reverse)
    val one = pairs.toDF("a", "b").repartition(1)
      .select(jaroWinklerMicroCol($"a", $"b")).as[Long].collect().sorted
    val many = pairs.toDF("a", "b").repartition(7)
      .select(jaroWinklerMicroCol($"a", $"b")).as[Long].collect().sorted
    assert(one.sameElements(many))
  }
}

package graft


/** Smoke: every declared operator query executes at sf0.001, the
  * driver contract invariants hold. (Value-level correctness is the
  * driver's DuckDB oracle — reproduce locally with scripts/check.py.) */
class QueriesSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"

  test("entry returns rows (driver t1 smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
    // the registry: unique family names, no family empty, and no key
    // declared by two families (a `++` merge would silently keep one)
    val fams = SparkEntry.families
    assert(fams.map(_.name).distinct.size == fams.size,
      s"duplicate family names: ${fams.map(_.name).diff(fams.map(_.name).distinct)}")
    assert(fams.forall(_.queries.nonEmpty),
      s"families without queries: ${fams.filter(_.queries.isEmpty).map(_.name)}")
    assert(fams.map(_.queries.size).sum == SparkEntry.queries.size,
      "a query key is declared by more than one family")
    assert(fams.map(_.oracle.size).sum == SparkEntry.oracleSql.size,
      "an oracle key is declared by more than one family")
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name executes at sf0.001") {
      val df = fn(spark, dir)
      assert(df.columns.nonEmpty)
      df.count() // materialize — throws on any plan/runtime error
    }
  }
}

package graft
class RecursiveCteProbe extends SparkSuite {
  test("probe: WITH RECURSIVE support") {
    val out = spark.sql(
      "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n+1 FROM t WHERE n < 5) SELECT sum(n) FROM t")
      .collect().head
    assert(out.getLong(0) == 15)
  }
}

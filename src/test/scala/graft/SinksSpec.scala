package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Source/sink surface (SURVEY.md §2.1 S3/S8): append/overwrite
  * parquet writes, CSV and JSON round-trips with declared schemas, and
  * the plain scalar-UDF extension point (§2.9) against its built-in
  * equivalent. */
class SinksSpec extends SparkSuite {
  val dir = "/root/testdata/sf0.001"
  def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("schema evolution: mergeSchema reads old and widened batches together") {
    import spark.implicits._
    val out = tmp("graft_evolve")
    // v1 batch: two columns
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.mode("append").parquet(out)
    // v2 batch: a new nullable column appears (additive evolution —
    // the only kind plain parquet supports without a rewrite)
    Seq((3L, "c", 9.5)).toDF("id", "name", "score")
      .write.mode("append").parquet(out)
    val merged = spark.read.option("mergeSchema", "true").parquet(out)
    assert(merged.columns.sorted.toSeq == Seq("id", "name", "score"))
    val rows = merged.orderBy($"id")
      .select($"id", $"score").as[(Long, Option[Double])].collect().toSeq
    // old rows surface the new column as null; new rows carry it
    assert(rows == Seq((1L, None), (2L, None), (3L, Some(9.5))))
  }

  test("parquet append sink accumulates batches (S3 insert semantics)") {
    val out = tmp("graft_append")
    val n = graft.engine.Tables.nation(spark, dir)
    n.write.mode("append").parquet(out)
    n.write.mode("append").parquet(out)
    assert(spark.read.parquet(out).count() == 50)
    n.write.mode("overwrite").parquet(out)
    assert(spark.read.parquet(out).count() == 25)
  }

  test("csv round-trip with declared schema") {
    import spark.implicits._
    val out = tmp("graft_csv")
    val src = graft.engine.Tables.customer(spark, dir)
      .select($"c_custkey", $"c_name", $"c_acctbal")
    src.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.option("header", "true")
      .schema("c_custkey LONG, c_name STRING, c_acctbal DOUBLE").csv(out)
    assert(back.count() == src.count())
    assert(back.agg(sum($"c_custkey")).collect().head.getLong(0) ==
      src.agg(sum($"c_custkey")).collect().head.getLong(0))
  }

  test("json lines round-trip (S8 codec)") {
    import spark.implicits._
    val out = tmp("graft_json")
    val src = graft.engine.Tables.events(spark, dir)
      .select($"event_id", $"user_id", $"event_type", $"value")
    src.write.mode("overwrite").json(out)
    val back = spark.read
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .json(out)
    assert(back.count() == src.count())
    assert(back.orderBy("event_id").collect().toSeq ==
      src.orderBy("event_id").collect().toSeq)
  }

  test("orc round-trip preserves schema and values") {
    import spark.implicits._
    val out = tmp("graft_orc")
    val src = graft.engine.Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice", $"o_orderdate")
    src.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.schema == src.schema)
    assert(back.orderBy("o_orderkey").collect().toSeq ==
      src.orderBy("o_orderkey").collect().toSeq)
  }

  test("scalar udf matches the equivalent built-in expression (§2.9)") {
    import spark.implicits._
    val slug = udf((s: String) =>
      s.toLowerCase.replaceAll("[^a-z0-9]+", "-").stripSuffix("-"))
    val df = graft.engine.Tables.part(spark, dir)
      .select($"p_partkey",
        slug($"p_name").as("udf_slug"),
        regexp_replace(lower($"p_name"), "[^a-z0-9]+", "-").as("builtin_raw"))
      .withColumn("builtin_slug", regexp_replace($"builtin_raw", "-$", ""))
    assert(df.filter($"udf_slug" =!= $"builtin_slug").count() == 0)
  }
}

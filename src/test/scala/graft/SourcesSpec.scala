package graft

import org.apache.spark.sql.functions._
import graft.sources.SeqSource

/** Planning-behavior specs for the custom DataSource V2 connector
  * ([[graft.sources.SeqSource]]): correctness of the generated rows,
  * plan-time slice pruning under pushed id-range filters, residual
  * handling for non-pushable predicates, and column pruning reaching
  * the row builder. The result-level parity with DuckDB is q140 in the
  * driver matrix; this spec pins the parts only the plan can show.
  */
class SourcesSpec extends SparkSuite {
  private def seq(start: Long, end: Long, parts: Int) =
    spark.read.format("graft.sources.SeqSource")
      .option("start", start.toString).option("end", end.toString)
      .option("partitions", parts.toString).load()

  test("generates the exact row set with deterministic columns") {
    import spark.implicits._
    val rows = seq(0, 100, 4).orderBy($"id").collect()
    assert(rows.length == 100)
    assert(rows.map(_.getLong(0)).toSeq == (0L until 100L))
    rows.foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) == id % 32L)
      assert(r.getLong(2) == SeqSource.valOf(id))
      assert(r.getString(3) == s"doc_$id")
    }
  }

  test("pushed id-range prunes slices at plan time") {
    import spark.implicits._
    // 32 slices over [0, 200000); [50000, 100000) intersects slices
    // 8..15 → 16 planned at most (8 exactly), 24 pruned.
    val df = seq(0, 200000, 32).filter($"id" >= 50000L && $"id" < 100000L)
    val n = df.count()
    assert(n == 50000L)
    assert(SeqSource.lastPlanned.get() == 8,
      s"expected 8 surviving slices, planned ${SeqSource.lastPlanned.get()}")
    assert(SeqSource.lastPruned.get() == 24)
    // The pushed range is visible on the scan node.
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_seq"))
  }

  test("pushed filters are exact: pushed scan ≡ ground-truth enumeration") {
    import spark.implicits._
    // Pushed id-filters are fully evaluated inside the source (Spark
    // does NOT re-check them), so their exactness is load-bearing.
    val row = seq(0, 10000, 8)
      .filter($"id" > 1234L && $"id" <= 7777L)
      .agg(count(lit(1)).as("n"), sum($"val").as("s"),
        min($"id").as("lo"), max($"id").as("hi"))
      .collect().head
    val ids = (1235L to 7777L)
    assert(row.getLong(0) == ids.length.toLong)
    assert(row.getLong(1) == ids.map(SeqSource.valOf).sum)
    assert(row.getLong(2) == 1235L && row.getLong(3) == 7777L)
  }

  test("non-id predicates stay in the plan as residual filters") {
    import spark.implicits._
    val df = seq(0, 1000, 4).filter($"bucket" === 3L && $"id" < 500L)
    val ids = df.select($"id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until 500L).filter(_ % 32 == 3))
    // bucket predicate was NOT pushed (connector only accepts id ranges)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Filter"), "residual bucket filter must remain")
  }

  test("column pruning reaches the reader schema") {
    import spark.implicits._
    val df = seq(0, 1000, 4).select($"bucket", $"val")
    assert(df.schema.fieldNames.toSeq == Seq("bucket", "val"))
    val scanDesc = df.queryExecution.executedPlan.toString
    // The scan's description advertises the pruned ReadSchema (no tag).
    assert(scanDesc.contains("graft_seq"))
    val total = df.agg(sum($"val")).collect().head.getLong(0)
    assert(total == (0L until 1000L).map(SeqSource.valOf).sum)
  }

  test("JSON roundtrip preserves the documents table bit-for-bit") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val rt = SparkEntry.queries("q209_json_roundtrip")(spark, dir)
      .select($"bucket", $"n_rows", $"checksum")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // checksum the ORIGINAL rows with the same machinery — equality
    // proves the write→read loop lossless
    val orig = graft.engine.Maintenance.tableChecksum(
      graft.engine.Tables.documents(spark, dir)
        .select($"doc_id", $"lang", $"source", $"n_chars", $"text"),
      buckets = 64)
      .select($"bucket", $"n_rows", $"checksum")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(rt === orig)
    assert(rt.map(_._2).sum ===
      graft.engine.Tables.documents(spark, dir).count())
  }

  test("CSV roundtrip preserves the lineitem slice; ORC ≡ JSON bucket-for-bucket") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val viaCsv = SparkEntry.queries("q235_csv_roundtrip")(spark, dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val direct = graft.engine.Maintenance.tableChecksum(
      graft.engine.Tables.lineitem(spark, dir)
        .select($"l_orderkey", $"l_partkey", $"l_suppkey",
          $"l_linenumber".cast("long").as("l_linenumber"),
          $"l_quantity".cast("long").as("l_quantity"),
          $"l_returnflag", $"l_linestatus"),
      buckets = 64)
      .select($"bucket", $"n_rows", $"checksum")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(viaCsv === direct)
    // ORC and JSON roundtrip the SAME documents projection through the
    // SAME canonicalization — their bucket rows must be identical.
    val viaOrc = SparkEntry.queries("q237_orc_roundtrip")(spark, dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val viaJson = SparkEntry.queries("q209_json_roundtrip")(spark, dir)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(viaOrc === viaJson)
  }

  test("mergeSchema null-fills the evolved column for old-generation files") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q236_schema_evolution")(spark, dir).collect()
    val docs = graft.engine.Tables.documents(spark, dir)
    // counts see every generation; the evolved column aggregates over
    // only the v2 (odd doc_id) files that physically carry it
    assert(out.map(_.getLong(1)).sum === docs.count())
    assert(out.map(_.getLong(2)).sum ===
      docs.filter($"doc_id" % 2 === 1).count())
  }
}

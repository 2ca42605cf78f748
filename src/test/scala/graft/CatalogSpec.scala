package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Hive-metastore integration (the north star's "Spark SQL + Hive
  * metastore" mode): managed tables via saveAsTable, bucketed layout
  * for shuffle-free co-located joins, partitioned layout for partition
  * pruning. At 100 TB these two physical layouts — bucket by join key,
  * partition by date/type — are the difference between scan-and-join
  * and shuffle-the-world; this spec pins both behaviors in the plan.
  */
class CatalogSpec extends AnyFunSuite {
  // The Hive catalog is a static setting, so this suite runs in its own
  // test JVM; the width policy is the mains' (Sessions.local).
  lazy val spark: SparkSession = {
    val s = graft.engine.Catalog.hiveSession(
      java.nio.file.Files.createTempDirectory("graft_wh").toString, "local[4]")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    s
  }

  /** Static plans with every join a sort-merge join, for the plan-shape
    * asserts on bucketed layouts. */
  private def smjPlans[T](body: => T): T = SparkSuite.withConf(spark)(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")(body)

  val dir = "/root/testdata/sf0.001"

  test("hive metastore: saveAsTable round-trips through spark.table and SQL") {
    assert(spark.conf.get("spark.sql.catalogImplementation") == "hive")
    spark.sql("CREATE DATABASE IF NOT EXISTS graft")
    graft.engine.Tables.nation(spark, dir)
      .write.mode("overwrite").saveAsTable("graft.nation_t")
    assert(spark.table("graft.nation_t").count() == 25)
    assert(spark.sql("SELECT count(*) AS n FROM graft.nation_t")
      .collect().head.getLong(0) == 25)
    assert(spark.sql("SHOW TABLES IN graft").collect()
      .map(_.getString(1)).contains("nation_t"))
  }

  test("bucketed tables co-locate the join: no shuffle exchange") {
    import org.apache.spark.sql.functions.col
    spark.sql("CREATE DATABASE IF NOT EXISTS graft")
    graft.engine.Tables.orders(spark, dir)
      .write.bucketBy(4, "o_custkey").sortBy("o_custkey")
      .mode("overwrite").saveAsTable("graft.orders_b")
    graft.engine.Tables.customer(spark, dir)
      .write.bucketBy(4, "c_custkey").sortBy("c_custkey")
      .mode("overwrite").saveAsTable("graft.customer_b")
    smjPlans {
      val j = spark.table("graft.orders_b")
        .join(spark.table("graft.customer_b"), col("o_custkey") === col("c_custkey"))
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join should not shuffle:\n$plan")
      assert(j.count() > 0)
    }
  }

  test("ANALYZE TABLE feeds the CBO row-count and size statistics") {
    spark.sql("CREATE DATABASE IF NOT EXISTS graft")
    graft.engine.Tables.customer(spark, dir)
      .write.mode("overwrite").saveAsTable("graft.customer_s")
    spark.sql("ANALYZE TABLE graft.customer_s COMPUTE STATISTICS")
    val stats = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(
        "customer_s", Some("graft"))).stats
    assert(stats.exists(_.rowCount.exists(_.toLong == 150L)),
      s"ANALYZE should record rowCount=150 in the metastore, got $stats")
    assert(stats.exists(_.sizeInBytes > 0),
      "sizeInBytes should be a real measurement")
  }

  test("dynamic partition pruning: dim filter prunes the fact scan at runtime") {
    import org.apache.spark.sql.functions.{col, lit}
    spark.sql("CREATE DATABASE IF NOT EXISTS graft")
    // fact partitioned by the join key's domain; dim carries a selective
    // filter. DPP should inject a runtime subquery into the fact scan's
    // PartitionFilters so only the dim-surviving partitions are read —
    // at 100 TB this is what makes star-join date filters cheap without
    // literal partition predicates in the query text.
    graft.engine.Tables.orders(spark, dir)
      .withColumn("status_p", col("o_orderstatus"))
      .write.partitionBy("status_p").mode("overwrite")
      .saveAsTable("graft.orders_p")
    // dim must be a real (file-backed) relation: a local Seq would
    // constant-fold its filter into a LocalRelation and the pruning
    // rule would see no selective predicate to derive a subquery from
    locally {
      import spark.implicits._
      Seq(("F", "finished"), ("O", "open"), ("P", "pending"))
        .toDF("s_key", "s_label")
        .write.mode("overwrite").saveAsTable("graft.status_dim")
    }
    // DPP (default reuseBroadcastOnly) piggybacks on the dim broadcast
    val joined = spark.table("graft.orders_p")
      .join(spark.table("graft.status_dim")
          .filter(col("s_label") === lit("finished")),
        col("status_p") === col("s_key"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
      s"expected a dynamic pruning subquery in the fact scan:\n$plan")
    assert(joined.count() ==
      spark.table("graft.orders_p").filter(col("status_p") === "F").count())
  }

  test("catalog-mode parity: the FULL query surface over spark.table ≡ the parquet path") {
    // the declared-schema parquet loaders and the Hive-metastore tables
    // must be the SAME engine: register all 10 fixtures as managed
    // tables, then run EVERY declared query through the
    // `metastore:<db>` seam and demand row-identical results, doubles
    // included. (The north star names metastore integration; this is
    // the whole verified surface running against Hive-catalog tables
    // with zero per-query changes.)
    graft.engine.Catalog.registerAll(spark, dir, "graft")
    val diverged = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (n, fn) =>
      scala.util.Try {
        val fromParquet = fn(spark, dir).collect().toSeq
        val fromCatalog = fn(spark, "metastore:graft").collect().toSeq
        if (fromParquet == fromCatalog) None
        else Some(s"$n (parquet ${fromParquet.size} rows vs catalog ${fromCatalog.size})")
      }.recover { case e => Some(s"$n (threw ${e.getClass.getSimpleName}: ${e.getMessage.take(120)})") }
        .get
    }
    assert(diverged.isEmpty,
      s"queries diverging between parquet and metastore paths: $diverged")
  }

  test("bucketed catalog layout removes the declared query's join exchanges") {
    // The layout lever applied to the DECLARED surface, not a
    // hand-written join: register the fixtures in a second db, then
    // re-layout lineitem+orders bucketed (8 buckets) on the join key.
    // The UNMODIFIED q05 through the `metastore:<db>` seam then runs
    // its l_orderkey ⋈ o_orderkey join without shuffling either side —
    // zero per-query changes, strictly fewer exchanges than the
    // parquet path, identical rows. This is the 100 TB shape: layout
    // decisions live in the catalog, queries stay declarative.
    graft.engine.Catalog.registerAll(spark, dir, "graftb")
    graft.engine.Catalog.bucketize(
      graft.engine.Tables.lineitem(spark, dir), "graftb.lineitem", "l_orderkey", 8)
    graft.engine.Catalog.bucketize(
      graft.engine.Tables.orders(spark, dir), "graftb.orders", "o_orderkey", 8)
    smjPlans {
      val q = SparkEntry.queries("q05_regional_revenue")
      val pq = q(spark, dir)
      val cat = q(spark, "metastore:graftb")
      def exchanges(df: org.apache.spark.sql.DataFrame): Int =
        "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
      assert(exchanges(cat) < exchanges(pq),
        s"bucketed layout should drop join exchanges: catalog=${exchanges(cat)} parquet=${exchanges(pq)}")
      assert(pq.collect().toSeq == cat.collect().toSeq,
        "bucketed layout must not change results")
    }
  }

  test("partitioned table prunes partitions on filter") {
    import org.apache.spark.sql.functions.col
    spark.sql("CREATE DATABASE IF NOT EXISTS graft")
    graft.engine.Catalog.partitionize(
      graft.engine.Tables.events(spark, dir), "graft.events_p", "event_type")
    val q = spark.table("graft.events_p").filter(col("event_type") === "click")
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") || scan.contains("event_type"))
    val full = spark.table("graft.events_p").count()
    assert(q.count() < full) // pruned subset actually read
  }
}

package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** One timed operation of the batch workload: a registered engine query
  * function run over the fixed tables in `data` (a directory under
  * perfbench/data), whose result is checked against `oracle`, SQL that
  * DuckDB runs over the same parquet files. */
final case class Op(name: String, data: String, oracle: String,
                    run: (SparkSession, String) => DataFrame)

object Workloads {
  private def registered(data: String, names: String*): Seq[Op] =
    names.map(n => Op(n, data, SparkEntry.oracleSql(n), SparkEntry.queries(n)))

  /** The batch workload, in pass order: TPC-H Q3 (scan, shuffle joins,
    * aggregate), the passive-commission rollup over the memoized ancestor
    * closure, cosine top-k through the `graft.functions` kernel, and a
    * Structured Streaming replay with RocksDB state. The stream replays the sf0.01
    * events: its cost is per micro-batch and per state partition, not per
    * row. */
  val batch: Seq[Op] =
    registered("sf0.1", "q64_tpch_q3", "q31_passive_commissions", "q60_cosine_topk") ++
      registered("sf0.01", "q43_stream_tumbling")

  /** Tables the batch workload resolves through `Tables` during set-up. */
  val tables: Seq[(String, String)] =
    Seq("customer", "orders", "lineitem", "embeddings").map("sf0.1" -> _) :+
      ("sf0.01" -> "events")
}

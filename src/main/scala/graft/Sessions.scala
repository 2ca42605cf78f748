package graft
import org.apache.spark.sql.SparkSession

/** The local session every main runs on, so Bench, Verify and the dev
  * tools measure and check the same engine settings. */
object Sessions {
  /** Local cores for a main: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with one shuffle partition per core, UTC, no UI,
    * nanosecond parquet timestamps read as raw longs (the event loaders
    * normalize them) and Spark logging at WARN. */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // The fixture shuffles are all sub-MB, so AQE's size-based
      // coalescing folds every post-shuffle stage to ONE partition —
      // serializing the compute-bound stages (cosine, hamming) that the
      // shuffle was supposed to parallelize. Data is tiny but work is
      // not; keep the fixed width. (At real scale, sizes are honest and
      // coalescing is right — leave it on there.)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

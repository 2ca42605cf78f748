package graft
/** Dev-only profiler: time + explain selected queries. */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpus)
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // warm run then timed run
      val t0 = System.nanoTime(); fn(spark, sfDir).count(); val t1 = System.nanoTime()
      val t2 = System.nanoTime(); fn(spark, sfDir).count(); val t3 = System.nanoTime()
      println(f"PROF $name cold=${(t1-t0)/1e9}%.2f warm=${(t3-t2)/1e9}%.2f")
      if (sys.env.contains("PROF_EXPLAIN")) fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}

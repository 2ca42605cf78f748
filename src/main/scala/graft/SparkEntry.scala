package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.engine._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * All operators live in `graft.engine.*`; this object only assembles
  * the per-operator query map and its DuckDB oracle SQL. */
object SparkEntry {
  type Q = (SparkSession, String) => DataFrame

  /** One operator module's queries and their oracle SQL, under the
    * module's name (the `families` key of the bench line). */
  final case class Family(name: String, queries: Map[String, Q],
                          oracle: Map[String, String])

  /** The query registry: every declared query, grouped by the module
    * that declares it. */
  val families: Seq[Family] = Seq(
    Family("relational", Relational.queries, Relational.oracle),
    Family("aggregates", Aggregates.queries, Aggregates.oracle),
    Family("scalar", Scalar.queries, Scalar.oracle),
    Family("commission", Commission.queries, Commission.oracle),
    Family("windows", Windows.queries, Windows.oracle),
    Family("textops", TextOps.queries, TextOps.oracle),
    Family("dedup", Dedup.queries, Dedup.oracle),
    Family("similarity", Similarity.queries, Similarity.oracle),
    Family("multimodal", Multimodal.queries, Multimodal.oracle),
    Family("refshapes", RefShapes.queries, RefShapes.oracle),
    Family("extended", Extended.queries, Extended.oracle),
    Family("pipeline", Pipeline.queries, Pipeline.oracle),
    Family("rehive", graft.api.Rehive.queries, graft.api.Rehive.oracle),
    Family("chunking", Chunking.queries, Chunking.oracle),
    Family("sketches", Sketches.queries, Sketches.oracle),
    Family("timeseries", TimeSeries.queries, TimeSeries.oracle),
    Family("graph", Graph.queries, Graph.oracle),
    Family("sources", graft.sources.SourceQueries.queries,
      graft.sources.SourceQueries.oracle),
    Family("profiling", Profiling.queries, Profiling.oracle),
    Family("retrieval", Retrieval.queries, Retrieval.oracle),
    Family("tpchshapes", TpchShapes.queries, TpchShapes.oracle))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The full multi-stage corpus refinery (quality filter →
    * exact dedup → near-dup clustering → decontamination → funnel
    * census) — every stage individually oracle-verified (q50-q58,
    * q74) and the composition oracle-verified end-to-end (q75). */
  def entry(spark: SparkSession): DataFrame =
    Pipeline.refinery(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    families.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    families.flatMap(_.oracle).toMap

  /** The families cut down to the queries named in the csv
    * `SPARK_GRAFT_ONLY` (families left empty are dropped); all of them
    * when it is unset. */
  def selected: Seq[Family] = sys.env.get("SPARK_GRAFT_ONLY") match {
    case Some(csv) =>
      val sel = csv.split(",").map(_.trim).filter(_.nonEmpty).toSet
      families.map(f => f.copy(queries = f.queries.view.filterKeys(sel).toMap))
        .filter(_.queries.nonEmpty)
    case None => families
  }
}

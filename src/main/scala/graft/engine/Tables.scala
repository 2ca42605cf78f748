package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (`TESTDATA.md`,
  * schemas documented in `FIXTURES.md` §A). The reference
  * (`render-complete-deploy.js:31-136`) declares a fixed schema via
  * Drizzle `pgTable`; here the fixed schema travels in the parquet
  * footers the driver wrote, so loads are declared-not-inferred.
  *
  * At 100 TB these would be metastore tables (`spark.table("db.t")`,
  * `enableHiveSupport`) partitioned by date; the loader indirection
  * below is the single seam where that swap happens.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** One resolved scan per (session, dir, table). `spark.read.parquet`
    * builds a fresh InMemoryFileIndex and re-reads the footer schema on
    * every call; with ~60 queries × 2-3 tables each, that's hundreds of
    * redundant file listings per run. DataFrames are immutable, so
    * handing every query the same relation object is semantically
    * transparent — data is still scanned per action, only the listing/
    * schema step is shared. (The metastore swap at scale gets this for
    * free from the catalog's relation cache.) */
  /** The metastore seam: a dataset "dir" of the form `metastore:<db>`
    * routes every loader through `spark.table("<db>.<name>")` instead
    * of parquet paths — the whole query surface then runs against
    * Hive-catalog tables with ZERO per-query changes (CatalogSpec
    * asserts result parity). Register the tables first with
    * [[Catalog.registerAll]]. */
  def metastoreDb(d: String): Option[String] =
    if (d.startsWith("metastore:")) Some(d.stripPrefix("metastore:")) else None

  private val relCache = new SessionMemo[(String, String)]
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    relCache.getOrElseUpdate(spark, (sfDir, name))(
      metastoreDb(sfDir) match {
        case Some(db) => spark.table(s"$db.$name")
        case None => spark.read.parquet(s"$sfDir/$name.parquet")
      })

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** events.ts has shipped as three physical shapes across driver
    * testdata generations: parquet TIMESTAMP(NANOS) (readable only as
    * raw nanos via the legacy flag), plain micro TIMESTAMP_NTZ (current
    * testdata), and raw nano LONG (ScaleUp-generated dirs). Normalize
    * all three to micro-precision session-zone TimestampType — the
    * session TZ is pinned UTC, so the NTZ cast and the nano `div 1000`
    * truncation both land on exactly the wall-clock values DuckDB
    * reads, and every downstream query sees one stable type. Integer
    * `div` avoids the double round-trip (ns-since-epoch exceeds 2^53). */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(eventsStored(s, d))

  /** The memoized events relation as stored, before [[normalizeTs]]: the
    * streaming reader takes its schema from here rather than reading the
    * footer again. A registered table was saved through [[events]], so
    * its ts column is already micro-precision TimestampType. */
  def eventsStored(s: SparkSession, d: String): DataFrame = {
    if (metastoreDb(d).isEmpty)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    load(s, d, "events")
  }

  /** See [[events]]: raw nanos → µs TimestampType; NTZ → session-UTC
    * TimestampType; already-zoned passes through. Shared with the
    * streaming reader, which must apply the identical projection. */
  def normalizeTs(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros, col}
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case t if t.typeName == "timestamp_ntz" =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Load by name through the table-specific accessor — `events` needs
    * the nanos handling above; a plain `load("events")` fails schema
    * conversion (PARQUET_TYPE_ILLEGAL) until the legacy flag is set. */
  def table(s: SparkSession, d: String, name: String): DataFrame =
    if (name == "events") events(s, d) else load(s, d, name)

  /** Fan a scan out to every core. The testdata files are SINGLE
    * row-group parquet, so Spark cannot split the scan below one task —
    * and everything up to the first exchange (hash kernels, cosine
    * loops, shingling) inherits that one-task parallelism. The explicit
    * round-robin exchange costs one pass over a sub-10MB file and buys
    * full-width execution for the map-heavy stage behind it. The
    * brute-force cosine scorers spread the corpus side of their
    * broadcast query-set join this way: q60, q61, q154, q182, q217 and
    * the centroid family (q63, q77, q145, q196). q176's dense arm and
    * q177/q178's labeled ranking do not: at 2,000 vectors the exchange
    * cost them more than the one-task scoring (measured, `CHANGES.md`).
    * On a production layout (many files / row groups, maxPartitionBytes
    * sized to the cluster) the scan splits by itself and this wrapper
    * is dropped — it exists because of the fixture layout, not the
    * algorithm. */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Register every table as a temp view (for SQL-surface queries like
    * GROUPING SETS that Spark only exposes through SQL). */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
}

package graft.engine

import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Scratch-path discipline for queries that materialize roundtrip
  * artifacts (CSV/ORC/JSON/parquet rewrite jobs).
  *
  * Two failure modes of the naive `/tmp/x_${dir.hashCode}` scheme:
  * concurrent sessions (or parallel test forks) racing on the same
  * path — one overwrites the directory while the other reads it —
  * and distinct datasets colliding on `hashCode` (plus
  * `math.abs(Int.MinValue)` being negative). Paths here are keyed by
  * the Spark application id (unique per JVM launch, so concurrent
  * sessions never share a root) and an MD5 prefix of the dataset key
  * (collision-free in practice, stable within a session so repeated
  * runs overwrite in place instead of accumulating garbage).
  */
object Scratch {

  /** Stable 16-hex-char digest of an arbitrary key (e.g. a data dir). */
  def key(k: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(k.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)

  /** Where every application's scratch root lives: the JVM's temp
    * directory (`java.io.tmpdir`), so replay staging follows wherever
    * the caller points it. */
  private def tmpRoot: java.io.File =
    new java.io.File(System.getProperty("java.io.tmpdir")).getAbsoluteFile

  private def scratchName(s: SparkSession): String =
    s"graft_scratch_${s.sparkContext.applicationId}"

  /** Per-application scratch directory for (tag, dataset-key). */
  def dir(s: SparkSession, tag: String, k: String): String =
    new java.io.File(new java.io.File(tmpRoot, scratchName(s)),
      s"${tag}_${key(k)}").getPath

  /** Sanitized application id, safe inside a SQL table identifier. */
  def appTag(s: SparkSession): String =
    s.sparkContext.applicationId.toLowerCase.replaceAll("[^a-z0-9]", "_")

  /** Per-application STATE-TABLE key: sanitized appId + dataset
    * digest. Embedding the appId (exactly as `dir` does for scratch
    * paths) means two concurrent sessions or parallel test forks
    * sharing a warehouse directory can never name — and therefore
    * never overwrite or sweep — each other's live state tables. */
  def stateKey(s: SparkSession, k: String): String =
    s"${appTag(s)}_${key(k)}"

  /** Resolved warehouse directory of the session (file path). */
  private def warehouseDir(s: SparkSession): java.io.File = {
    val whConf = s.conf.get("spark.sql.warehouse.dir")
    new java.io.File(
      if (whConf.startsWith("file:")) new java.net.URI(whConf).getPath
      else whConf).getCanonicalFile
  }

  private def wipeTree(f: java.io.File): Unit = {
    if (f.isDirectory) {
      val cs = f.listFiles(); if (cs != null) cs.foreach(wipeTree)
    }
    f.delete(); ()
  }

  /** Warehouse JANITOR — the unbounded-growth backstop appId-keyed
    * state names created: [[sweepStaleState]] can only ever reclaim
    * THIS application's directories, so `graft_state_*` dirs left by
    * crashed or completed applications accumulated forever in a
    * shared warehouse. Called at Bench/Verify startup: removes every
    * warehouse-resident `graft_state_*` directory that (a) does NOT
    * carry this application's tag and (b) was last modified more than
    * `maxAgeHours` ago — old enough that no legitimately concurrent
    * session (parallel test forks, an overlapping bench) can still be
    * using it. Scoped like the stale sweep: only names matching the
    * state pattern, only directly under the warehouse. */
  def sweepAgedState(s: SparkSession, maxAgeHours: Double = 6.0): Int = {
    val wh = warehouseDir(s)
    val cutoff = System.currentTimeMillis() - (maxAgeHours * 3600 * 1000).toLong
    val tag = appTag(s)
    val kids = wh.listFiles()
    val stale =
      if (kids == null) Array.empty[java.io.File]
      else kids.filter { f =>
        f.isDirectory && f.getName.matches("graft_state_[a-z0-9_]+") &&
          !f.getName.contains(tag) && f.lastModified() < cutoff &&
          f.getParentFile == wh
      }
    stale.foreach(wipeTree)
    // Same janitor for the REPLAY-STAGING roots under `tmpRoot` (`dir` above):
    // appId-keyed scratch of crashed/completed runs otherwise
    // accumulates until legitimate shuffle spill hits ENOSPC — the
    // round-9 sf30 incident: ~26 GB of dead-app staging left 8 GB for
    // a 180M-row sort's spill. Scoped identically: the fixed
    // graft_scratch_ prefix, never this application's own root, only
    // dirs old enough that no concurrent session can be live in them.
    val tmpKids = tmpRoot.listFiles()
    val staleTmp =
      if (tmpKids == null) Array.empty[java.io.File]
      else tmpKids.filter { f =>
        f.isDirectory && f.getName.startsWith("graft_scratch_") &&
          f.getName != scratchName(s) &&
          f.lastModified() < cutoff
      }
    staleTmp.foreach(wipeTree)
    stale.length + staleTmp.length
  }

  /** Drop THIS application's state tables (catalog entries + warehouse
    * dirs) — graceful-shutdown cleanup so a completed bench/verify run
    * leaves no disk residue. Only names carrying this app's tag ever
    * match, so concurrent sessions are untouchable by construction. */
  def dropOwnState(s: SparkSession): Unit = {
    val tag = appTag(s)
    s.catalog.listTables().collect()
      .map(_.name).filter(n => n.startsWith("graft_state_") && n.contains(tag))
      .foreach(n =>
        try s.sql(s"DROP TABLE IF EXISTS $n") catch { case NonFatal(_) => () })
    val wh = warehouseDir(s)
    val kids = wh.listFiles()
    if (kids != null)
      kids.filter(f => f.isDirectory && f.getParentFile == wh &&
          f.getName.matches("graft_state_[a-z0-9_]+") && f.getName.contains(tag))
        .foreach(wipeTree)
    // and this run's replay-staging root
    wipeTree(new java.io.File(tmpRoot, scratchName(s)))
  }

  /** Delete the stale warehouse directory of a catalog-unknown state
    * table (this application crashed or re-ran between a physical
    * write and catalog registration; with appId-keyed names no OTHER
    * application's directory can ever match). Provably scoped: the
    * name must be a `graft_state_*` identifier carrying THIS
    * application's tag, and the resolved path must sit directly under
    * the session warehouse — anything else is refused loudly. */
  def sweepStaleState(s: SparkSession, name: String): Unit = {
    require(name.matches("graft_state_[a-z0-9_]+"),
      s"refusing to sweep a non-state-table name: $name")
    require(name.contains(appTag(s)),
      s"refusing to sweep another application's state dir: $name")
    if (!s.catalog.tableExists(name)) {
      val wh = warehouseDir(s)
      val target = new java.io.File(wh, name.toLowerCase).getCanonicalFile
      require(target.getParentFile == wh,
        s"refusing to sweep outside the warehouse: $target")
      wipeTree(target)
    }
  }
}

package graft

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}

/** Session factory with the engine's standard tuning.
  *
  * Local test runs use `local[N]`; on a real cluster the same settings
  * apply except master/memory come from spark-submit. AQE is on so
  * shuffle partition counts, skew joins and small-partition coalescing
  * re-plan at runtime — essential at 100 TB where static partition
  * counts are always wrong for somebody.
  */
object GraftSession {
  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.filterPushdown", "true")
      // testdata events.parquet uses TIMESTAMP(NANOS); read as long,
      // Tables.events converts back to a timestamp column
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      // file:// without a chmod or readlink process per file operation
      .config("spark.hadoop.fs.file.impl", classOf[GraftLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[GraftLocalFs].getName)

  /** A session for one query's settings: a clone of `spark` (same
    * context, cache and tables; its own conf, temp views and streaming
    * query manager) with `settings` applied. Operators never change the
    * caller's session config; a setting scoped to an operator's query
    * goes through here, the one place the engine sets config at run
    * time. A clone copies the caller's conf as it is at the call.
    *
    * A scoped session stays inside the operator that made it: it is
    * never passed to `Tables` or `graft.Artifacts` (each would open a
    * new per-session store, and past `Artifacts.MaxSessions` release
    * the caller's), and frames built on it are rebound to the caller
    * before they are returned.
    */
  def scoped(spark: SparkSession, settings: (String, String)*): SparkSession = {
    val s = GraftColumnBridge.cloneSession(spark)
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** `df`'s plan as a frame of `spark`: a result built on a [[scoped]]
    * session, handed back to its caller. */
  def rebind(spark: SparkSession, df: DataFrame): DataFrame =
    GraftColumnBridge.dataFrame(spark, df.queryExecution.analyzed)

  /** Local session for tests/benchmarks. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the generated TPC-H-ish star schema, and the
  * engine's one read path for parquet inputs ([[read]], [[schema]]).
  *
  * Data is never cached here: every read is a plain parquet scan, so
  * Catalyst's predicate pushdown and column pruning reach the file
  * format, and callers decide lifetime. Schemas ARE memoized. Spark
  * infers a parquet schema with a one-task job per read; [[schema]]
  * infers it once per (session, path, file listing, inference
  * settings) through [[Artifacts.memo]], and [[read]] hands it to the
  * reader. The listing is the (name, size, modification time) of each
  * file directly under the path, so a table rewritten in place is
  * inferred again, and `Graft.releasePins` forgets every memoized
  * schema.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // the session settings that change what parquet inference returns
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema")

  /** (name, size, modification time) of each file under `path`, or of
    * `path` itself when it is a file; empty when nothing is there (the
    * inference then fails as an uncached read would). */
  private def listing(spark: SparkSession, path: String): Seq[(String, Long, Long)] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Option(fs.globStatus(p)).toSeq.flatten
      .flatMap(st => if (st.isDirectory) fs.listStatus(st.getPath).toSeq else Seq(st))
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .sorted
  }

  /** The schema Spark infers for the parquet input at `path`, inferred
    * once per session and file listing. */
  def schema(spark: SparkSession, path: String): StructType = {
    val confs = inferenceConfs.map(spark.conf.getOption)
    Artifacts.memo(spark, "tables.schema", (path, confs, listing(spark, path))) {
      spark.read.parquet(path).schema
    }
  }

  /** The parquet input at `path`, read with its memoized [[schema]].
    * Each call builds a fresh relation (new attribute ids, a fresh file
    * listing), exactly as an inferring read would. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame =
    normalizeNtz(load(s, d, "orders"), "o_orderdate")
  def lineitem(s: SparkSession, d: String): DataFrame =
    normalizeNtz(load(s, d, "lineitem"), "l_shipdate")
  /** SCHEMA-DRIFT GUARD for event time: the driver has shipped `ts`
    * under three physical encodings so far — TIMESTAMP(NANOS) (surfacing
    * as a long under `spark.sql.legacy.parquet.nanosAsLong`),
    * `timestamp[us]` without a timezone (surfacing as TIMESTAMP_NTZ),
    * and plain TIMESTAMP. Every consumer (batch, streaming source,
    * spec harness) MUST see exactly one logical type, TimestampType,
    * or gap arithmetic / watermarking breaks at analysis time on the
    * next regeneration. This is the single normalization point; never
    * re-derive the ts type downstream.
    *
    * The NTZ→TIMESTAMP cast is instant-preserving because every graft
    * session pins `spark.sql.session.timeZone=UTC` (GraftSession).
    */
  def normalizeTs(df: DataFrame, col: String = "ts"): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(col).dataType match {
      case LongType =>          // legacy nanos-as-long encoding
        df.withColumn(col, timestamp_micros(expr(s"$col div 1000")))
      case TimestampNTZType =>  // timestamp[us] with no zone; session is UTC
        df.withColumn(col, c(col).cast(TimestampType))
      case TimestampType => df
      case other => throw new IllegalStateException(
        s"events.$col arrived as unsupported type $other — extend Tables.normalizeTs")
    }
  }

  /** Same drift guard for the date-like columns whose ESTABLISHED
    * surface type is TIMESTAMP_NTZ (orders.o_orderdate,
    * lineitem.l_shipdate — every oracle was written against NTZ
    * semantics, so unlike events.ts these normalize TOWARD NTZ): a
    * re-encode to nanos-long or tz-aware timestamp folds back to the
    * same wall-clock NTZ value (session pinned UTC).
    */
  def normalizeNtz(df: DataFrame, col: String): DataFrame = {
    import org.apache.spark.sql.functions.{col => c, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(col).dataType match {
      case LongType =>
        df.withColumn(col,
          timestamp_micros(expr(s"$col div 1000")).cast(TimestampNTZType))
      case TimestampType => df.withColumn(col, c(col).cast(TimestampNTZType))
      case TimestampNTZType => df
      case other => throw new IllegalStateException(
        s"$col arrived as unsupported type $other — extend Tables.normalizeNtz")
    }
  }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeTs(load(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

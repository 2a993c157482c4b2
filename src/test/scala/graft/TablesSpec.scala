package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SCHEMA CONTRACT for the driver-generated tables.
  *
  * The driver has re-encoded a physical column type once already
  * (events.ts: nanos-long → timestamp[us]), which silently broke a
  * whole operator family at analysis time. This suite pins the
  * NORMALIZED schema of every table — as seen through Tables.* — for
  * all three sf dirs, so the next regeneration fails HERE with a
  * one-line diff instead of deep inside an operator; and it proves the
  * normalization helpers fold every known physical encoding to the
  * same logical type and instant.
  */
class TablesSpec extends SparkSpec {

  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1").filter(d => new java.io.File(d).exists())

  // the contract: normalized (name -> type) per table
  private val expected: Map[String, Seq[(String, DataType)]] = Map(
    "region" -> Seq("r_regionkey" -> IntegerType, "r_name" -> StringType),
    "nation" -> Seq("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
    "customer" -> Seq("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
      "c_mktsegment" -> StringType),
    "supplier" -> Seq("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
    "part" -> Seq("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType,
      "p_size" -> IntegerType, "p_retailprice" -> DoubleType),
    "orders" -> Seq("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
    "lineitem" -> Seq("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType,
      "l_quantity" -> DoubleType, "l_extendedprice" -> DoubleType,
      "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
    "events" -> Seq("event_id" -> LongType, "ts" -> TimestampType,
      "user_id" -> LongType, "event_type" -> StringType,
      "value" -> DoubleType, "props" -> StringType),
    "documents" -> Seq("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
    "embeddings" -> Seq("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType))

  private def loader(name: String) = name match {
    case "region" => Tables.region _
    case "nation" => Tables.nation _
    case "customer" => Tables.customer _
    case "supplier" => Tables.supplier _
    case "part" => Tables.part _
    case "orders" => Tables.orders _
    case "lineitem" => Tables.lineitem _
    case "events" => Tables.events _
    case "documents" => Tables.documents _
    case "embeddings" => Tables.embeddings _
  }

  test("every table at every sf dir matches the normalized schema contract") {
    assert(sfDirs.nonEmpty)
    // the second pass reads through the memoized schema
    for (pass <- 1 to 2; d <- sfDirs; name <- Tables.all) {
      val got = loader(name)(spark, d).schema
        .map(f => f.name -> f.dataType)
      val want = expected(name).map { case (n, t) => n -> t }
      assert(got == want,
        s"SCHEMA DRIFT in $d/$name.parquet (pass $pass) — regenerate-proof " +
          s"the loader (Tables.normalizeTs/normalizeNtz) or update the contract.\n" +
          s"  got:  $got\n  want: $want")
      if (pass == 2) {
        val path = s"$d/$name.parquet"
        assert(Tables.schema(spark, path) eq Tables.schema(spark, path),
          s"$path: the second read must hit the memo")
      }
    }
  }

  private def scratchTable(): String =
    java.nio.file.Files.createTempDirectory("graft_tables").resolve("t").toString

  test("a table rewritten in place reads back with its new schema") {
    import spark.implicits._
    val dir = scratchTable()
    Seq(1, 2).toDF("id").write.parquet(dir)
    val first = Tables.read(spark, dir)
    assert(first.schema.map(_.dataType) == Seq(IntegerType))
    assert(Tables.schema(spark, dir) eq Tables.schema(spark, dir))
    Seq((3L, "c")).toDF("id", "s").write.mode("overwrite").parquet(dir)
    val again = Tables.read(spark, dir)
    assert(again.schema.map(f => f.name -> f.dataType) ==
      Seq("id" -> LongType, "s" -> StringType))
    assert(again.as[(Long, String)].collect().toSeq == Seq((3L, "c")))
  }

  test("each read is a fresh relation: self-joins and new files behave") {
    import spark.implicits._
    val dir = scratchTable()
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").write.parquet(dir)
    val a = Tables.read(spark, dir)
    val b = Tables.read(spark, dir)
    assert(a.schema == b.schema)
    val joined = a.join(b, a("k") === b("k") + 1).select(a("v"), b("v"))
    assert(joined.as[(Long, Long)].collect().toSeq == Seq((20L, 10L)))
    // an appended file changes the listing: the new rows are read
    Seq((3L, 30L)).toDF("k", "v").write.mode("append").parquet(dir)
    assert(Tables.read(spark, dir).count() == 3)
  }

  test("releasePins forgets memoized schemas; the next read infers again") {
    val path = s"$sf/lineitem.parquet"
    val before = Tables.schema(spark, path)
    assert(Tables.schema(spark, path) eq before, "a hit returns the memo")
    Graft.releasePins(spark)
    val after = Tables.schema(spark, path)
    assert((after ne before) && after == before,
      "after releasePins the schema must be inferred again")
  }

  test("a changed inference setting is honoured, not served from the memo") {
    val path = s"$sf/events.parquet" // ts is a timestamp without zone
    val conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    def inferred = spark.read.parquet(path).schema("ts").dataType
    def memoized = Tables.schema(spark, path)("ts").dataType
    assert(memoized == TimestampNTZType)
    spark.conf.set(conf, "false")
    try {
      assert(inferred == TimestampType, "the setting must change inference")
      assert(memoized == TimestampType)
    } finally spark.conf.unset(conf)
    assert(memoized == TimestampNTZType)
  }

  test("a missing path fails as an inferring read does, and is not memoized") {
    val dir = scratchTable()
    intercept[org.apache.spark.sql.AnalysisException](Tables.read(spark, dir))
    import spark.implicits._
    Seq(1L).toDF("id").write.parquet(dir)
    assert(Tables.read(spark, dir).count() == 1)
  }

  test("source gate: every inferring parquet read outside Tables.scala is listed") {
    // (file, code) of each allowed `.read.parquet(` site, with the
    // reason it must infer; a new site fails here until it goes
    // through Tables.read / Tables.schema or is listed with a reason
    val allowed = Seq(
      ("streaming/StreamingOps.scala", "val store = spark.read.parquet(outDir)",
        "readHistMvStore: checkMvSchema must see the on-disk schema"),
      ("streaming/StreamingOps.scala", "val store = spark.read.parquet(outDir)",
        "compactMvStore: checkMvSchema must see the on-disk schema"),
      ("streaming/StreamingOps.scala", "val store = spark.read.parquet(outDir)",
        "readMvFoldStore: checkMvSchema must see the on-disk schema"),
      ("streaming/StreamingOps.scala", "s.read.parquet(out)",
        "st16: a sink output written in the same call, read once"),
      ("streaming/StreamingOps.scala", "s.read.parquet(out)",
        "st11: a sink output written in the same call, read once"),
      ("streaming/StreamingOps.scala", "s.read.parquet(out)",
        "st18: a sink output written in the same call, read once"),
      ("sources/Sources.scala", "spark.read.parquet(path).repartition(nFiles)",
        "compaction reads a path once, then rewrites it"),
      ("tools/UpscaleData.scala", "val df = spark.read.parquet(s\"$src/$t.parquet\")",
        "offline tool, one read per table"),
      ("tools/UpscaleData.scala",
        "println(s\"[upscale] $t: ${df.count()} -> ${spark.read.parquet(s\"$out/$t.parquet\").count()} rows\")",
        "offline tool, reads back what it just wrote"))
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "Tables.scala").toSeq
    }
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val hits = for {
      f <- files
      line <- scala.io.Source.fromFile(f.toFile, "UTF-8").getLines().toSeq
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("/*")
      if code.split("//").head.contains(".read.parquet(")
    } yield (root.relativize(f).toString, code)
    val want = allowed.map { case (f, c, _) => (f, c) }
    assert(hits.sorted == want.sorted,
      s"inferring parquet reads changed.\n  found:  ${hits.sorted.mkString("\n    ")}" +
        s"\n  listed: ${want.sorted.mkString("\n    ")}")
  }

  test("normalizeTs folds all three known ts encodings to the same instants") {
    import spark.implicits._
    // 2024-03-01 12:34:56.789012 UTC, expressed three ways
    val micros = 1709296496789012L
    val asLong = Seq((1L, micros * 1000L)).toDF("id", "ts") // nanos-long
    val asTs = Seq((1L, micros)).toDF("id", "us")
      .select(col("id"), timestamp_micros(col("us")).as("ts"))
    val asNtz = asTs.select(col("id"), col("ts").cast(TimestampNTZType).as("ts"))
    val outs = Seq(asLong, asTs, asNtz).map { df =>
      val n = Tables.normalizeTs(df)
      assert(n.schema("ts").dataType == TimestampType, n.schema.treeString)
      n.select(unix_micros(col("ts"))).head().getLong(0)
    }
    assert(outs.toSet == Set(micros), s"instants diverged: $outs")
  }

  test("normalizeNtz folds all three known encodings to the same wall clock") {
    import spark.implicits._
    val micros = 1709296496789012L
    val asLong = Seq((1L, micros * 1000L)).toDF("id", "d")
    val asTs = Seq((1L, micros)).toDF("id", "us")
      .select(col("id"), timestamp_micros(col("us")).as("d"))
    val asNtz = asTs.select(col("id"), col("d").cast(TimestampNTZType).as("d"))
    val outs = Seq(asLong, asTs, asNtz).map { df =>
      val n = Tables.normalizeNtz(df, "d")
      assert(n.schema("d").dataType == TimestampNTZType, n.schema.treeString)
      n.select(date_format(col("d"), "yyyy-MM-dd HH:mm:ss.SSSSSS")).head().getString(0)
    }
    assert(outs.toSet.size == 1, s"wall clocks diverged: $outs")
    assert(outs.head == "2024-03-01 12:34:56.789012")
  }

  test("unknown ts encodings fail loudly, not silently") {
    import spark.implicits._
    val bad = Seq((1L, "2024-01-01")).toDF("id", "ts")
    val e = intercept[IllegalStateException](Tables.normalizeTs(bad))
    assert(e.getMessage.contains("normalizeTs"))
    val e2 = intercept[IllegalStateException](Tables.normalizeNtz(bad, "ts"))
    assert(e2.getMessage.contains("normalizeNtz"))
  }
}

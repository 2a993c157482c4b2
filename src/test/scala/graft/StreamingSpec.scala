package graft

import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

class StreamingSpec extends SparkSpec {

  private def canon(df: org.apache.spark.sql.DataFrame, cols: String*): Set[String] =
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSet

  test("streaming windowed agg (watermark) equals batch windowed agg") {
    val batch = StreamingOps.windowedAgg(Tables.events(spark, sf))
    // FileStreamSource needs a directory; expose the single parquet
    // file through a temp dir symlink
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sf/events.parquet"))
    val stream = spark.readStream.schema(
        spark.read.parquet(s"$sf/events.parquet").schema)
      .parquet(dir.toString)
    // same single normalization point as Tables.events / runStream
    val streamTs = Tables.normalizeTs(stream)
    val q = StreamingOps.windowedAggStream(streamTs)
      .writeStream.outputMode("complete").format("memory").queryName("st1_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("st1_out")
      val cols = Seq("window_start", "event_type", "n_events", "total_value")
      assert(canon(got, cols: _*) == canon(batch, cols: _*))
    } finally q.stop()
  }

  test("sliding windows: every event lands in exactly 2 windows; stream equals batch") {
    val ev = Tables.events(spark, sf)
    val batch = StreamingOps.slidingWindowAgg(ev)
    // 30-min window / 15-min slide → each event counted exactly twice
    val total = batch.agg(sum("n_events")).collect().head.getLong(0)
    assert(total == 2 * ev.count())
    val dir = java.nio.file.Files.createTempDirectory("events_slide")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sf/events.parquet"))
    val stream = spark.readStream.schema(
        spark.read.parquet(s"$sf/events.parquet").schema)
      .parquet(dir.toString)
    val streamTs = Tables.normalizeTs(stream)
    val q = StreamingOps.slidingWindowAggStream(streamTs)
      .writeStream.outputMode("complete").format("memory").queryName("st8_out").start()
    try {
      q.processAllAvailable()
      val cols = Seq("window_start", "event_type", "n_events", "total_value")
      assert(canon(spark.table("st8_out"), cols: _*) == canon(batch, cols: _*))
    } finally q.stop()
  }

  test("st12 append mode: emitted histograms are exactly the watermark-closed windows") {
    // production path: append emits each window's histogram once the
    // watermark passes it; every emitted row must equal its batch twin
    // and nothing may emit twice
    val dir = java.nio.file.Files.createTempDirectory("events_hist")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sf/events.parquet"))
    val stream = spark.readStream.schema(
        spark.read.parquet(s"$sf/events.parquet").schema)
      .parquet(dir.toString)
    val streamTs = Tables.normalizeTs(stream)
    val q = StreamingOps.histogramStream(streamTs)
      .writeStream.outputMode("append").format("memory")
      .queryName("st12_append").start()
    try {
      q.processAllAvailable()
      val got = spark.table("st12_append")
      val cols = Seq("window_start", "bucket", "n_events", "sum_value")
      val batch = Tables.events(spark, sf)
        .groupBy(window(col("ts"), "15 minutes").as("w"),
          floor(col("value") / 50.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
          col("bucket"), col("n_events"), col("sum_value"))
      val gotSet = canon(got, cols: _*)
      val batchSet = canon(batch, cols: _*)
      // closed windows only → a subset of the batch result, row-exact
      assert(gotSet.subsetOf(batchSet),
        s"append rows must match batch exactly; extras: ${gotSet -- batchSet}")
      // no duplicate emission
      assert(got.count() == gotSet.size)
      // the watermark closes everything except the trailing horizon:
      // all but the last hour's windows must have emitted
      val lastStart = batch.agg(max("window_start")).collect().head.getString(0)
      val missing = batchSet.filterNot(gotSet)
        .map(_.split("\\|").head)
      assert(missing.forall(_ >= lastStart.substring(0, 10)),
        s"only trailing-horizon windows may be unemitted, missing: $missing")
      assert(gotSet.nonEmpty, "append mode emitted nothing")
    } finally q.stop()
  }

  test("append histogram across TWO micro-batches: each window emits exactly once") {
    // the cross-batch invariant the single-file tests can't see: a
    // window closed by batch 1's watermark must not re-emit when
    // batch 2 arrives. Split events at the median ts into two files,
    // stream with maxFilesPerTrigger=1 (file order = write order, so
    // batch 1 = the earlier half and batch 2 carries no late data).
    val ev = Tables.events(spark, sf)
    val med = ev.select(percentile_approx(
      unix_micros(col("ts")), lit(0.5), lit(10000)).as("m")).head().getLong(0)
    val dir = java.nio.file.Files.createTempDirectory("events_2batch").toString
    ev.filter(unix_micros(col("ts")) <= med)
      .coalesce(1).write.mode("append").parquet(dir)
    Thread.sleep(1100) // distinct modification times fix the file order
    ev.filter(unix_micros(col("ts")) > med)
      .coalesce(1).write.mode("append").parquet(dir)
    val stream = Tables.normalizeTs(spark.readStream
      .schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir))
    val q = StreamingOps.histogramStream(stream)
      .writeStream.outputMode("append").format("memory")
      .queryName("hist_2batch").start()
    try {
      q.processAllAvailable()
      val got = spark.table("hist_2batch")
      val cols = Seq("window_start", "bucket", "n_events", "sum_value")
      val gotSet = canon(got, cols: _*)
      // exactly-once across batches: no duplicate (window, bucket) rows
      assert(got.count() == gotSet.size, "a closed window re-emitted")
      // emitted rows == the batch histogram restricted to windows the
      // final watermark (max ts − 1 h) closed — nothing more, nothing
      // less (batch 2 has no late data, so nothing was dropped)
      val maxUs = ev.agg(max(unix_micros(col("ts")))).head().getLong(0)
      val closed = ev
        .groupBy(window(col("ts"), "15 minutes").as("w"),
          floor(col("value") / 50.0).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 4).as("sum_value"))
        .filter(unix_micros(col("w.end")) <= maxUs - 3600L * 1000000L)
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm").as("window_start"),
          col("bucket"), col("n_events"), col("sum_value"))
      assert(gotSet == canon(closed, cols: _*),
        s"append across 2 batches diverged from the closed-window set")
      assert(gotSet.nonEmpty)
    } finally q.stop()
  }

  test("stream-static join: streaming events enrich against a static dim") {
    val dir = java.nio.file.Files.createTempDirectory("events_ssj")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"), java.nio.file.Paths.get(s"$sf/events.parquet"))
    val static = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_mktsegment"))
    val stream = spark.readStream
      .schema(spark.read.parquet(s"$sf/events.parquet").schema)
      .parquet(dir.toString)
      .join(static, col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssj_out")
      val batch = Tables.events(spark, sf)
        .join(static, col("user_id") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
      assert(canon(got, "c_mktsegment", "n") == canon(batch, "c_mktsegment", "n"))
    } finally q.stop()
  }

  test("session_window streaming form equals lag-based batch sessionization") {
    val ev = Tables.events(spark, sf)
    val lagForm = StreamingOps.sessionize(ev)
      // session identity = (user, start); drop the running index
      .select("user_id", "session_start", "n_events", "total_value")
    val windowForm = StreamingOps.sessionWindowAgg(ev)
    val cols = Seq("user_id", "session_start", "n_events", "total_value")
    assert(canon(windowForm, cols: _*) == canon(lagForm, cols: _*))
  }

  test("streaming dedup: duplicated stream input deduped to batch-distinct counts") {
    // same file exposed twice → every event_id arrives twice
    val dir = java.nio.file.Files.createTempDirectory("events_dup")
    Seq("a", "b").foreach { n =>
      java.nio.file.Files.createSymbolicLink(
        dir.resolve(s"events_$n.parquet"), java.nio.file.Paths.get(s"$sf/events.parquet"))
    }
    val schema = spark.read.parquet(s"$sf/events.parquet").schema
    val q = spark.readStream.schema(schema).parquet(dir.toString)
      .dropDuplicates("event_id")
      .groupBy().count()
      .writeStream.outputMode("complete").format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dedup_out").head().getLong(0)
      val batchDistinct = spark.read.parquet(s"$sf/events.parquet").count()
      assert(streamed == batchDistinct, s"$streamed != $batchDistinct")
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization equals batch sessionization") {
    val ev = Tables.events(spark, sf)
    val lagForm = StreamingOps.sessionize(ev)
      .select("user_id", "session_start", "n_events", "total_value")
    val fmgws = StreamingOps.sessionizeFMGWS(spark, ev).toDF()
    val cols = Seq("user_id", "session_start", "n_events", "total_value")
    assert(canon(fmgws, cols: _*) == canon(lagForm, cols: _*))
  }

  test("flatMapGroupsWithState rounds decimal half boundaries like Spark's round(sum, 2)") {
    import spark.implicits._
    // 2.675 as a binary double is 2.67499999...: math.round(x*100)/100
    // floors it to 2.67, Spark's round (BigDecimal.valueOf + HALF_UP)
    // carries to 2.68 — the session totals must agree on such sums
    val ev = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 5L, 2.675),
      (2L, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 5L, 0.0),
      (3L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 6L, 1.0),
      (4L, java.sql.Timestamp.valueOf("2024-01-01 10:01:00"), 6L, 1.675))
      .toDF("event_id", "ts", "user_id", "value")
    val got = StreamingOps.sessionizeFMGWS(spark, ev).toDF()
      .select("user_id", "total_value").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = ev.groupBy("user_id").agg(round(sum("value"), 2).as("t"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want, s"fmgws $got vs round(sum,2) $want")
    assert(got(5L) == 2.68) // HALF_UP at the boundary, not binary floor
  }

  test("flatMapGroupsWithState SCD2: streamed ≡ batch rebuild's closed set; cross-batch intervals emit once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    // batch expectation: q34's interval rebuild, closed rows only
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val want = ev
      .withColumn("valid_from", date_format(col("ts"), "yyyy-MM-dd HH:mm:ss"))
      .withColumn("valid_to",
        date_format(lead(col("ts"), 1).over(w), "yyyy-MM-dd HH:mm:ss"))
      .filter(col("valid_to").isNotNull)
      .select(col("user_id"), col("event_id"), col("event_type").as("state"),
        col("valid_from"), col("valid_to"))
    // a REAL two-micro-batch stream split at the median event time:
    // per-user intervals open in batch 1 and close in batch 2, so the
    // state slot must carry the open interval across the boundary and
    // the closed row must appear exactly once
    val rows = ev.as[StreamingOps.EvT].collect().sortBy(_.ts.getTime)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[StreamingOps.EvT]
    val q = StreamingOps.scd2FMGWSTyped(spark, ms.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("scd2_out").start()
    try {
      ms.addData(b1.toIndexedSeq); q.processAllAvailable()
      val afterB1 = spark.table("scd2_out").count()
      ms.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("scd2_out")
      val cols = Seq("user_id", "event_id", "state", "valid_from", "valid_to")
      assert(canon(got, cols: _*) == canon(want, cols: _*))
      // both batches contributed (the boundary genuinely split work)
      assert(afterB1 > 0 && afterB1 < got.count())
    } finally q.stop()
  }

  test("flatMapGroupsWithState EWMA: streamed ≡ batch chart's closed days; straddled days count once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    // independent expectation: the BATCH chart (q54's collect_list
    // fold, a different mechanism than the state machine) restricted
    // to each type's closed days, with the σ/alarm columns the online
    // chart can't know dropped
    val batch = SparkEntry.queries("q54_ewma_control")(spark, sf)
    val wMax = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    val want = batch.withColumn("mx", max("day").over(wMax))
      .filter(col("day") < col("mx"))
      .select("event_type", "day", "n_events", "ewma", "resid")
    // two micro-batches split at the median event: the median DAY's
    // events straddle the boundary, so its count must accumulate
    // across batches in state and emit exactly once
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[StreamingOps.EvT].collect().sortBy(_.ts.getTime)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[StreamingOps.EvT]
    val q = StreamingOps.ewmaFMGWS(spark, ms.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("ewma_out").start()
    try {
      ms.addData(b1.toIndexedSeq); q.processAllAvailable()
      val afterB1 = spark.table("ewma_out").count()
      ms.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("ewma_out")
      val cols = Seq("event_type", "day", "n_events", "ewma", "resid")
      assert(canon(got, cols: _*) == canon(want, cols: _*))
      assert(afterB1 > 0 && afterB1 < got.count())
    } finally q.stop()
  }

  test("flatMapGroupsWithState Holt: streamed ≡ batch forecast's closed days across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val batch = SparkEntry.queries("q61_holt_forecast")(spark, sf)
    val wMax = org.apache.spark.sql.expressions.Window.partitionBy("event_type")
    val want = batch.withColumn("mx", max("day").over(wMax))
      .filter(col("day") < col("mx"))
      .select("event_type", "day", "n_events", "level", "trend",
        "forecast", "forecast_err")
    val rows = Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[StreamingOps.EvT].collect().sortBy(_.ts.getTime)
    val (b1, b2) = rows.splitAt(rows.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[StreamingOps.EvT]
    val q = StreamingOps.holtFMGWS(spark, ms.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("holt_out").start()
    try {
      ms.addData(b1.toIndexedSeq); q.processAllAvailable()
      val afterB1 = spark.table("holt_out").count()
      ms.addData(b2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table("holt_out")
      val cols = Seq("event_type", "day", "n_events", "level", "trend",
        "forecast", "forecast_err")
      assert(canon(got, cols: _*) == canon(want, cols: _*))
      assert(afterB1 > 0 && afterB1 < got.count())
    } finally q.stop()
  }

  test("flatMapGroupsWithState EWMA: zero-lateness contract — a cross-batch late event for a closed day drops") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(id: Long, ts: String) = StreamingOps.EvT(
      id, java.sql.Timestamp.from(java.time.Instant.parse(ts)), 1L, "click")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[StreamingOps.EvT]
    val q = StreamingOps.ewmaFMGWS(spark, ms.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("ewma_late").start()
    try {
      // batch 1 ends inside day 2; batch 2 opens with a seconds-late
      // day-1 straggler (must DROP — day 1 closed at the first day-2
      // event) then finishes day 2 and opens day 3
      ms.addData(Seq(ev(1, "2024-03-01T10:00:00Z"), ev(2, "2024-03-01T11:00:00Z"),
        ev(3, "2024-03-02T00:00:05Z")))
      q.processAllAvailable()
      ms.addData(Seq(ev(4, "2024-03-01T23:59:59Z"), // late: dropped
        ev(5, "2024-03-02T12:00:00Z"), ev(6, "2024-03-03T01:00:00Z")))
      q.processAllAvailable()
      val got = spark.table("ewma_late").collect()
        .map(r => r.getAs[String]("day") -> r.getAs[Long]("n_events")).toMap
      // day 1 emitted with its PRE-close count (2, not 3); day 2
      // counted across batches (events 3 and 5)
      assert(got == Map("2024-03-01" -> 2L, "2024-03-02" -> 2L), got.toString)
    } finally q.stop()
  }

  test("st27's watermarked day window COUNTS the late event the bare fMGWS machine drops") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(id: Long, ts: String) = StreamingOps.EvT(
      id, java.sql.Timestamp.from(java.time.Instant.parse(ts)), 1L, "click")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[StreamingOps.EvT]
    val q = ms.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(col("event_type"),
        window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("c"))
      .select(col("event_type"),
        date_format(col("w.start"), "yyyy-MM-dd").as("day"), col("c"))
      .writeStream.outputMode("append").format("memory")
      .queryName("wm_day").start()
    try {
      // batch 1 ends just inside day 2: watermark = 00:30 − 1 h =
      // day 1 23:30, so day 1 is still OPEN
      ms.addData(Seq(ev(1, "2024-03-01T10:00:00Z"), ev(2, "2024-03-01T11:00:00Z"),
        ev(3, "2024-03-02T00:30:00Z")))
      q.processAllAvailable()
      // batch 2 delivers a day-1 event ABOVE the 23:30 watermark —
      // the exact arrival st25's zero-lateness state machine drops —
      // then advances the watermark past day 1's end to finalize it
      ms.addData(Seq(ev(4, "2024-03-01T23:45:00Z"), ev(5, "2024-03-02T02:00:00Z")))
      q.processAllAvailable()
      val got = spark.table("wm_day").collect()
        .map(r => r.getAs[String]("day") -> r.getAs[Long]("c")).toMap
      assert(got.get("2024-03-01").contains(3L),
        s"late day-1 event must be counted: $got")
      assert(!got.contains("2024-03-02"), "day 2 is still open")
    } finally q.stop()
  }

  test("st32: quota counter persists across micro-batches; over-quota events drop at the gate") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(id: Long, sec: Int) = StreamingOps.EvT(
      id, java.sql.Timestamp.from(
        java.time.Instant.parse(f"2024-03-01T10:00:$sec%02dZ")), 1L, "click")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[StreamingOps.EvT]
    val q = StreamingOps.quotaAdmitFMGWS(spark, ms.toDF(), cap = 5L).toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName("st32_quota").start()
    try {
      // batch 1: 3 admits (out of ts order — the sort normalizes)
      ms.addData(Seq(ev(3, 30), ev(1, 10), ev(2, 20)))
      q.processAllAvailable()
      // batch 2: 4 arrivals but only 2 quota slots remain
      ms.addData(Seq(ev(4, 40), ev(5, 50), ev(6, 55), ev(7, 59)))
      q.processAllAvailable()
      val got = spark.table("st32_quota").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("admit_rank"))
        .toMap
      assert(got == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L, 5L -> 5L),
        s"quota must persist across batches: $got")
    } finally q.stop()
  }

  test("st31: planted linear day gives exact r=1; late event folds into the moments") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(id: Long, ts: String, v: Double) =
      (id, java.sql.Timestamp.from(java.time.Instant.parse(ts)), 1L,
        "click", v)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = StreamingOps.corrMomentsStream(
      ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
      .writeStream.outputMode("append").format("memory")
      .queryName("st31_corr").start()
    try {
      // day-1 values exactly proportional to second-of-day
      // (value = 2e-6·y ⇒ x = 2y on the micro grid ⇒ r = 1), plus a
      // day-2 probe that holds day 1 open
      ms.addData(Seq(
        ev(1, "2024-03-01T00:00:10Z", 0.000020),
        ev(2, "2024-03-01T06:00:00Z", 0.043200),
        ev(3, "2024-03-02T00:30:00Z", 9.9)))
      q.processAllAvailable()
      // a LATE day-1 event still above the watermark — it must join
      // the day-1 moments — then advance past day 1 to finalize it
      ms.addData(Seq(
        ev(4, "2024-03-01T23:00:00Z", 0.165600),
        ev(5, "2024-03-02T02:00:00Z", 1.0)))
      q.processAllAvailable()
      val got = StreamingOps.corrFinalize(spark.table("st31_corr"))
        .collect().map(r => r.getAs[String]("day") ->
          ((r.getAs[Long]("n_events"), r.getAs[Double]("corr_value_tod"))))
        .toMap
      assert(got("2024-03-01") == ((3L, 1.0)),
        s"late event must be in the finalized day-1 moments: $got")
      assert(!got.contains("2024-03-02"), "day 2 is still open")
    } finally q.stop()
  }

  test("st33: digit counts close per day; nonpositive values excluded") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(id: Long, ts: String, v: Double) =
      (id, java.sql.Timestamp.from(java.time.Instant.parse(ts)), 1L,
        "click", v)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val q = StreamingOps.benfordDigitsStream(
      ms.toDF().toDF("event_id", "ts", "user_id", "event_type", "value"))
      .writeStream.outputMode("append").format("memory")
      .queryName("st33_benford").start()
    try {
      // day 1: digits 1 (×2: 1.23, 0.000150 → micro 150), 9 (×1);
      // a zero value AND a sub-micro positive (2e-7 → micro 0, whose
      // "digit" would be 0 and poison log10(1+1/d)) must be dropped;
      // day-2 probes close day 1
      ms.addData(Seq(
        ev(1, "2024-03-01T01:00:00Z", 1.23),
        ev(2, "2024-03-01T02:00:00Z", 0.000150),
        ev(3, "2024-03-01T03:00:00Z", 9.5),
        ev(4, "2024-03-01T04:00:00Z", 0.0),
        ev(6, "2024-03-01T05:00:00Z", 0.0000002),
        ev(5, "2024-03-02T02:00:00Z", 42.0)))
      q.processAllAvailable()
      val got = StreamingOps.benfordFinalize(spark.table("st33_benford"))
        .collect().map(r => (r.getAs[String]("day"), r.getAs[Long]("digit"))
          -> ((r.getAs[Long]("n_events"), r.getAs[Double]("share"))))
        .toMap
      assert(got(("2024-03-01", 1L)) == ((2L, 0.666667)), s"got $got")
      assert(got(("2024-03-01", 9L)) == ((1L, 0.333333)))
      assert(got.size == 2,
        s"zero and sub-micro values dropped, day 2 open: $got")
    } finally q.stop()
  }

  test("st29: KMV sketch accumulates across micro-batches; matches the batch estimator") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.KmvSketch
    def ev(id: Long, user: Long) = StreamingOps.EvT(
      id, java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T10:05:00Z")),
      user, "click")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[StreamingOps.EvT]
    val q = ms.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "15 minutes").as("w"))
      .agg(KmvSketch.kmvSketch(
        KmvSketch.kmvHash(col("user_id").cast("long")), 64).as("sk"))
      .select(KmvSketch.kmvEstimate(col("sk"), 64).as("est"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("st29_kmv").start()
    try {
      // batch 1: users 1..70 (already above k=64); batch 2 overlaps
      // 31..70 and extends to 140 — the state-store sketch must fold
      // the union, not restart per batch
      ms.addData((1L to 70L).map(u => ev(u, u)))
      q.processAllAvailable()
      ms.addData((31L to 140L).map(u => ev(1000L + u, u)))
      q.processAllAvailable()
      val got = spark.table("st29_kmv").head().getLong(0)
      val want = spark.range(1, 141)
        .select(KmvSketch.kmvHash(col("id")).as("h"))
        .agg(KmvSketch.kmvSketch(col("h"), 64).as("sk"))
        .select(KmvSketch.kmvEstimate(col("sk"), 64).as("est"))
        .head().getLong(0)
      assert(got == want, s"streamed $got vs batch $want over users 1..140")
      assert(math.abs(got - 140) <= 140 * 0.37, s"estimate quality: $got for 140")
    } finally q.stop()
  }

  test("st28: Holt fold over watermark-finalized days counts the late event, hand-checked") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ev(id: Long, ts: String) = StreamingOps.EvT(
      id, java.sql.Timestamp.from(java.time.Instant.parse(ts)), 1L, "click")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[StreamingOps.EvT]
    val q = ms.toDF()
      .withWatermark("ts", "1 hour")
      .groupBy(col("event_type"), window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).cast("double").as("c"))
      .select(col("event_type"), col("w.start").as("d"), col("c"))
      .writeStream.outputMode("append").format("memory")
      .queryName("st28_fin").start()
    try {
      // day 1 gets 2 on-time events; days 2-4 arrive in batch 2 along
      // with a LATE day-1 event (23:45 against a 23:30 watermark at
      // the time) that MUST be counted; the 01:30 day-4 event pushes
      // the watermark past day 3's end so days 1-3 finalize
      ms.addData(Seq(ev(1, "2024-03-01T10:00:00Z"), ev(2, "2024-03-01T11:00:00Z"),
        ev(3, "2024-03-02T00:30:00Z")))
      q.processAllAvailable()
      ms.addData(Seq(ev(4, "2024-03-01T23:45:00Z"), ev(5, "2024-03-02T02:00:00Z"),
        ev(6, "2024-03-03T05:00:00Z"), ev(7, "2024-03-03T06:00:00Z"),
        ev(8, "2024-03-03T07:00:00Z"), ev(9, "2024-03-03T08:00:00Z"),
        ev(10, "2024-03-04T01:30:00Z")))
      q.processAllAvailable()
      // finalized counts: day1 = 3 (incl. the late event), day2 = 2,
      // day3 = 4; day 4 is still open. Hand Holt (α=1/2, β=1/4),
      // seed lv=3 tr=0:
      //   day2: lv=.5·2+.5·3=2.5, tr=2.5−3=−0.5, fc=3, err=−1
      //   day3: lv=.5·4+.5·(2.5−0.5)=3, tr=.25·(3−2.5)+.75·(−0.5)
      //         =−0.25, fc=2.5−0.5=2, err=2
      val out = graft.streaming.StreamingQueries
        .holtOverFinalized(spark.table("st28_fin"))
        .collect()
        .map(r => r.getAs[String]("day") ->
          ((r.getAs[Long]("n_events"), r.getAs[Double]("level"),
            r.getAs[Double]("trend"), r.getAs[Double]("forecast"),
            r.getAs[Double]("forecast_err"))))
        .toMap
      assert(out.keySet == Set("2024-03-02", "2024-03-03"),
        s"day 1 seeds, day 4 is open: $out")
      assert(out("2024-03-02") == ((2L, 2.5, -0.5, 3.0, -1.0)), out.toString)
      assert(out("2024-03-03") == ((4L, 3.0, -0.25, 2.0, 2.0)), out.toString)
    } finally q.stop()
  }

  test("st3 and st12 leave no graft_stream_ view in the caller's catalog") {
    val views = () => spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_")).toSet
    val before = views()
    Seq("st3_windowed_agg_stream", "st12_stream_histogram").foreach { name =>
      val out = SparkEntry.queries(name)(spark, sf)
      assert(out.count() > 0, s"$name returned no rows")
    }
    assert(views() == before, s"views left behind: ${views() -- before}")
  }

  test("st41 and st16 leave no scratch checkpoint behind") {
    val root = graft.streaming.StreamingQueries.scratchRoot
    val ckpts = () => {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(root).iterator().asScala.map(_.getFileName.toString)
        .filter(_.matches("graft_.*_ckpt.*")).toSet
    }
    val before = ckpts()
    Seq("st41_stream_hier_rollup", "st16_stream_histogram_sink").foreach { name =>
      assert(SparkEntry.queries(name)(spark, sf).count() > 0, s"$name returned no rows")
    }
    assert(ckpts() -- before == Set.empty[String])
  }

  test("releasePins deletes the sink directories st41 and st16 wrote") {
    val s = spark.newSession()
    // each sink writes under a fresh `.../<prefix>NNN/out`; find it
    // from the files the returned frame reads
    val outs = Seq("st41_stream_hier_rollup", "st16_stream_histogram_sink").flatMap { name =>
      val df = SparkEntry.queries(name)(s, sf)
      assert(df.count() > 0, s"$name returned no rows")
      df.inputFiles.toSeq.flatMap { f =>
        Iterator.iterate(java.nio.file.Paths.get(new java.net.URI(f)))(_.getParent)
          .takeWhile(_ != null)
          .find(p => p.getFileName != null && p.getFileName.toString == "out")
      }.distinct
    }
    assert(outs.size == 2, s"sink dirs found: $outs")
    assert(outs.forall(java.nio.file.Files.isDirectory(_)))
    Graft.releasePins(s)
    val left = outs.map(_.getParent).filter(java.nio.file.Files.exists(_))
    assert(left.isEmpty, s"sink directories left after releasePins: $left")
  }

  test("releasePins deletes the stream fixture directories st9 and st41 wrote") {
    import scala.jdk.CollectionConverters._
    def ls(d: java.nio.file.Path): List[java.nio.file.Path] =
      try {
        val st = java.nio.file.Files.list(d)
        try st.iterator().asScala.toList finally st.close()
      } catch { // deleted meanwhile
        case _: java.io.IOException | _: java.io.UncheckedIOException => Nil
      }
    // every graft_*_stream* entry in the JVM tmpdir or in one of its
    // session directories
    def fixtureDirs(): Set[java.nio.file.Path] = {
      val top = ls(java.nio.file.Paths.get(sys.props("java.io.tmpdir")))
      (top ++ top.filter(_.getFileName.toString.startsWith("graft_session"))
          .flatMap(ls)).filter { p =>
        val n = p.getFileName.toString
        n.startsWith("graft_") && n.contains("_stream") && !n.contains("ckpt")
      }.toSet
    }
    val before = fixtureDirs()
    val s = spark.newSession()
    Seq("st9_incremental_rollup_stream", "st41_stream_hier_rollup").foreach { name =>
      assert(SparkEntry.queries(name)(s, sf).count() > 0, s"$name returned no rows")
    }
    assert((fixtureDirs() -- before).nonEmpty, "no fixture directory was written")
    Graft.releasePins(s)
    val left = fixtureDirs() -- before
    assert(left.isEmpty, s"fixture directories left after releasePins: $left")
  }

  test("streamToParquet: durable file sink with checkpoint equals the batch filter") {
    val dir = java.nio.file.Files.createTempDirectory("events_sink_src")
    java.nio.file.Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$sf/events.parquet"))
    val stream = spark.readStream.schema(
        spark.read.parquet(s"$sf/events.parquet").schema)
      .parquet(dir.toString)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value")
    val out = java.nio.file.Files.createTempDirectory("events_sink_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("events_sink_ckpt").toString
    graft.streaming.StreamingOpsSinks.streamToParquet(stream, out, ckpt)
    val sunk = spark.read.parquet(out)
    val batch = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "value")
    val cols = Seq("event_id", "user_id", "value")
    assert(canon(sunk, cols: _*) == canon(batch, cols: _*))
  }

  test("st11: exactly-once near-dup sink survives a mid-stream crash replay") {
    val docs = Tables.documents(spark, sf)
    val corpus = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val batchSide = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val srcDir = java.nio.file.Files.createTempDirectory("nd_x1_src").toString
    val out = java.nio.file.Files.createTempDirectory("nd_x1_out")
      .resolve("out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("nd_x1_ckpt").toString
    // batchSide docs have doc_id ≡ 0 (mod 5): quarter them by mod 20
    // into four arrival files (two per phase)
    def quarter(r: Int) = batchSide.filter(pmod(col("doc_id"), lit(20)) === r)
    // phase 1: two files land (two micro-batches at maxFilesPerTrigger=1)
    quarter(0).repartition(1).write.mode("append").parquet(srcDir)
    quarter(5).repartition(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    graft.streaming.StreamingOpsSinks.streamNearDupToParquet(
      spark, corpus, srcDir, schema, out, ckpt, minJaccard = 0.05)
    // CRASH SIMULATION: the engine wrote the last batch's output but
    // died before committing it — delete the newest commit marker, so
    // the restart MUST replay that batch (the sink write runs twice)
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length >= 2)
    val victim = commits.last
    // the local checksum FS keeps a hidden .N.crc sibling; leaving it
    // behind makes the replay's rewrite fail with FileAlreadyExists
    // (which Spark reports as concurrent checkpoint use)
    val crc = new java.io.File(victim.getParentFile, s".${victim.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    assert(victim.delete())
    // phase 2: two more files land; restart from the same checkpoint
    quarter(10).repartition(1).write.mode("append").parquet(srcDir)
    quarter(15).repartition(1).write.mode("append").parquet(srcDir)
    graft.streaming.StreamingOpsSinks.streamNearDupToParquet(
      spark, corpus, srcDir, schema, out, ckpt, minJaccard = 0.05)
    val sunk = spark.read.parquet(out)
      .select("doc_id", "status", "match_id", "match_jaccard")
    // replayed batch overwrote itself: one row per doc, no duplicates
    assert(sunk.groupBy("doc_id").count().filter(col("count") > 1).count() == 0)
    // sink ≡ single-shot classification of everything that arrived
    val arrived = spark.read.parquet(srcDir)
    val oracle = graft.operators.Dedup.incrementalNearDup(
      corpus, arrived, minJaccard = 0.05)
    val cols = Seq("doc_id", "status", "match_id", "match_jaccard")
    assert(canon(sunk, cols: _*) == canon(oracle, cols: _*))
  }

  test("st38: exactly-once durable MV store survives a mid-stream crash replay (signed measures)") {
    import graft.operators.{MvCount, MvFold, MvSum}
    // signed sums are the measures a replay would corrupt — the test
    // plants the crash st11 plants and asserts the SUM is unchanged
    val facts = Tables.orders(spark, sf).select(
      col("o_orderkey"), col("o_orderpriority"),
      year(col("o_orderdate")).cast("long").as("order_year"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    val srcDir = java.nio.file.Files.createTempDirectory("mv_x1_src").toString
    val out = java.nio.file.Files.createTempDirectory("mv_x1_out")
      .resolve("out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mv_x1_ckpt").toString
    val keys = Seq("o_orderpriority", "order_year")
    val measures = Seq(MvSum("sum_cents", col("cents")), MvCount("n_orders"))
    def quarter(r: Int) = facts.filter(pmod(col("o_orderkey"), lit(4)) === r)
    // phase 1: two files land (two micro-batches at maxFilesPerTrigger=1)
    quarter(0).repartition(1).write.mode("append").parquet(srcDir)
    quarter(1).repartition(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    graft.streaming.StreamingOpsSinks.streamMvFoldToParquet(
      spark, srcDir, schema, out, ckpt, keys, measures)
    // CRASH SIMULATION: output written, commit marker lost → the
    // restart MUST replay that batch (the partial write runs twice)
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length >= 2)
    val victim = commits.last
    val crc = new java.io.File(victim.getParentFile, s".${victim.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    assert(victim.delete())
    // phase 2: two more files land; restart from the same checkpoint
    quarter(2).repartition(1).write.mode("append").parquet(srcDir)
    quarter(3).repartition(1).write.mode("append").parquet(srcDir)
    graft.streaming.StreamingOpsSinks.streamMvFoldToParquet(
      spark, srcDir, schema, out, ckpt, keys, measures)
    // replayed batch overwrote its own partition: the signed sums
    // match a single-shot recompute EXACTLY (a duplicated fold would
    // inflate sum_cents — the failure bitmaps mask and sums expose)
    val got = graft.streaming.StreamingOpsSinks
      .readMvFoldStore(spark, out, keys, measures)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val want = MvFold.read(MvFold.build(facts, keys, measures), keys, measures)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(got == want)
  }

  test("MV store compaction: read-off invariant, store collapses to one partition, stream resumes safely") {
    import graft.operators.{MvCount, MvSum}
    val facts = Tables.orders(spark, sf).select(
      col("o_orderkey"), col("o_orderpriority"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    val srcDir = java.nio.file.Files.createTempDirectory("mv_cp_src").toString
    val out = java.nio.file.Files.createTempDirectory("mv_cp_out")
      .resolve("out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mv_cp_ckpt").toString
    val keys = Seq("o_orderpriority")
    val measures = Seq(MvSum("sum_cents", col("cents")), MvCount("n"))
    def half(r: Int) = facts.filter(pmod(col("o_orderkey"), lit(2)) === r)
    half(0).repartition(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    graft.streaming.StreamingOpsSinks.streamMvFoldToParquet(
      spark, srcDir, schema, out, ckpt, keys, measures)
    def readOff() = graft.streaming.StreamingOpsSinks
      .readMvFoldStore(spark, out, keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val before = readOff()
    // clean shutdown → compact: read-off unchanged, ONE partition left
    graft.streaming.StreamingOpsSinks.compactMvStore(spark, out, keys, measures)
    assert(readOff() == before)
    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSet
    assert(parts == Set("batch_id=-1"), parts.toString)
    // resume with the second half: new batch ids never collide with -1
    half(1).repartition(1).write.mode("append").parquet(srcDir)
    graft.streaming.StreamingOpsSinks.streamMvFoldToParquet(
      spark, srcDir, schema, out, ckpt, keys, measures)
    val want = graft.operators.MvFold.read(
      graft.operators.MvFold.build(facts, keys, measures), keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(readOff() == want)
  }

  /** Shared fixture for the compaction-hardening tests: a 2-batch
    * durable MV store over the orders halves, plus its checkpoint.
    */
  private def buildMvStore(): (String, String, org.apache.spark.sql.DataFrame,
      Seq[String], Seq[graft.operators.MvMeasure]) = {
    import graft.operators.{MvCount, MvSum}
    val facts = Tables.orders(spark, sf).select(
      col("o_orderkey"), col("o_orderpriority"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    val srcDir = java.nio.file.Files.createTempDirectory("mv_h_src").toString
    val out = java.nio.file.Files.createTempDirectory("mv_h_out")
      .resolve("out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("mv_h_ckpt").toString
    val keys = Seq("o_orderpriority")
    val measures = Seq(MvSum("sum_cents", col("cents")), MvCount("n"))
    facts.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .repartition(1).write.mode("append").parquet(srcDir)
    facts.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .repartition(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    graft.streaming.StreamingOpsSinks.streamMvFoldToParquet(
      spark, srcDir, schema, out, ckpt, keys, measures)
    (out, ckpt, facts, keys, measures)
  }

  private def mvParts(out: String): Set[String] =
    new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("batch_id=")).map(_.getName).toSet

  test("compaction is overwrite-mode-proof: dynamic partitionOverwriteMode cannot leave stale partials (r18 verdict #2)") {
    // the st-family sinks set dynamic per-write, so a cluster might set
    // it session-wide; the old compaction write under dynamic mode
    // would replace ONLY batch_id=-1 and leave every batch partial
    // alive next to the compacted copy — double-counting the store.
    // The staged-swap compaction never overwrites the live store, so
    // the session conf must be irrelevant. Proven under BOTH settings.
    val (out, _, _, keys, measures) = buildMvStore()
    def readOff() = graft.streaming.StreamingOpsSinks
      .readMvFoldStore(spark, out, keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val before = readOff()
    val key = "spark.sql.sources.partitionOverwriteMode"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "dynamic")
      graft.streaming.StreamingOpsSinks.compactMvStore(spark, out, keys, measures)
      assert(mvParts(out) == Set("batch_id=-1"), mvParts(out).toString)
      assert(readOff() == before)
      // and again under explicit static (the default), on the already
      // single-partition store — still invariant, still one partition
      spark.conf.set(key, "static")
      graft.streaming.StreamingOpsSinks.compactMvStore(spark, out, keys, measures)
      assert(mvParts(out) == Set("batch_id=-1"))
      assert(readOff() == before)
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("compaction with checkpointDir drops UNCOMMITTED orphan partitions (r18 verdict #4)") {
    import graft.operators.MvFold
    val (out, ckpt, facts, keys, measures) = buildMvStore()
    // plant an orphan: a batch partition whose commit marker never
    // landed (the crash window st38 exercises) — written directly as
    // MV-shaped partials under an id the commit log does not know
    val junk = spark.range(1).select(
      lit("ORPHAN").as("o_orderpriority"), lit(999999L).as("cents"))
    MvFold.build(junk, keys, measures)
      .write.mode("overwrite").parquet(s"$out/batch_id=99")
    // without the commit log the orphan would fold in permanently;
    // with it, compaction folds ONLY committed partitions and the
    // orphan is dropped in the swap
    graft.streaming.StreamingOpsSinks.compactMvStore(
      spark, out, keys, measures, checkpointDir = Some(ckpt))
    assert(mvParts(out) == Set("batch_id=-1"), mvParts(out).toString)
    val got = graft.streaming.StreamingOpsSinks
      .readMvFoldStore(spark, out, keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val want = MvFold.read(MvFold.build(facts, keys, measures), keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == want)
    assert(!got.contains("ORPHAN"))
  }

  test("compaction survives a PURGED commit log: committed partitions below max(commits) still fold (r19 ADVICE high)") {
    import graft.operators.MvFold
    val (out, ckpt, facts, keys, measures) = buildMvStore()
    // Spark retains only the last minBatchesToRetain commit entries;
    // after a long stream, old committed batches have store partitions
    // but NO commit file. Simulate the purge: delete every commit
    // entry except the newest. The old filter classified the purged
    // ids as orphans and DELETED their committed data in the swap.
    val commitsDir = new java.io.File(s"$ckpt/commits")
    val commits = commitsDir.listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.length >= 2, "fixture must have >= 2 committed batches")
    commits.dropRight(1).foreach { f =>
      val crc = new java.io.File(f.getParentFile, s".${f.getName}.crc")
      if (crc.exists()) assert(crc.delete())
      assert(f.delete())
    }
    // a genuine orphan ABOVE the retained max must still be dropped
    val junk = spark.range(1).select(
      lit("ORPHAN").as("o_orderpriority"), lit(999999L).as("cents"))
    MvFold.build(junk, keys, measures)
      .write.mode("overwrite").parquet(s"$out/batch_id=99")
    graft.streaming.StreamingOpsSinks.compactMvStore(
      spark, out, keys, measures, checkpointDir = Some(ckpt))
    assert(mvParts(out) == Set("batch_id=-1"), mvParts(out).toString)
    val got = graft.streaming.StreamingOpsSinks
      .readMvFoldStore(spark, out, keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // every committed batch survives the purge; the orphan does not
    val want = MvFold.read(MvFold.build(facts, keys, measures), keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == want)
    assert(!got.contains("ORPHAN"))
  }

  test("compaction is fenced: a concurrent compactor is refused, the lock clears on completion (r19 verdict #3)") {
    val (out, _, _, keys, measures) = buildMvStore()
    def readOff() = graft.streaming.StreamingOpsSinks
      .readMvFoldStore(spark, out, keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val before = readOff()
    // another compactor holds the lock → this one refuses loudly and
    // touches nothing
    val lock = new java.io.File(out, ".graft-compact-lock")
    assert(lock.createNewFile())
    val e = intercept[IllegalStateException] {
      graft.streaming.StreamingOpsSinks.compactMvStore(spark, out, keys, measures)
    }
    assert(e.getMessage.contains("locked by another compaction"), e.getMessage)
    assert(mvParts(out).size == 2, mvParts(out).toString) // untouched
    assert(readOff() == before)
    // lock released (stale-crash recovery is manual by design) → the
    // next compact proceeds and leaves no lock behind
    assert(lock.delete())
    graft.streaming.StreamingOpsSinks.compactMvStore(spark, out, keys, measures)
    assert(mvParts(out) == Set("batch_id=-1"))
    assert(!lock.exists(), "lock must clear after a successful compact")
    assert(readOff() == before)
  }

  test("compaction aborts if a stream commits a new partition mid-compact; store untouched (r19 verdict #3)") {
    import graft.operators.MvFold
    val (out, _, _, keys, measures) = buildMvStore()
    def readOff() = graft.streaming.StreamingOpsSinks
      .readMvFoldStore(spark, out, keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val before = readOff()
    val late = spark.range(1).select(
      lit("LATE").as("o_orderpriority"), lit(123L).as("cents"))
    // a "live stream" lands batch_id=7 in the detection window (between
    // the snapshot and the destructive steps) via the test seam
    graft.streaming.StreamingOpsSinks.compactTestHook = () =>
      MvFold.build(late, keys, measures)
        .write.mode("overwrite").parquet(s"$out/batch_id=7")
    try {
      val e = intercept[IllegalStateException] {
        graft.streaming.StreamingOpsSinks.compactMvStore(spark, out, keys, measures)
      }
      assert(e.getMessage.contains("grew new partitions"), e.getMessage)
    } finally graft.streaming.StreamingOpsSinks.compactTestHook = () => ()
    // nothing folded, nothing deleted: the original partials AND the
    // late batch are all present, the read-off now includes the late row
    assert(mvParts(out).size == 3, mvParts(out).toString)
    val after = readOff()
    assert(after("LATE") == (123L, 1L))
    assert(before.forall { case (k, v) => after(k) == v })
    // with the stream stopped the next compact succeeds and keeps it all
    graft.streaming.StreamingOpsSinks.compactMvStore(spark, out, keys, measures)
    assert(mvParts(out) == Set("batch_id=-1"))
    assert(readOff() == after)
  }

  test("compaction staging lands as a SIBLING even for a trailing-slash outDir (r19 ADVICE)") {
    val (out, _, _, keys, measures) = buildMvStore()
    val before = graft.streaming.StreamingOpsSinks
      .readMvFoldStore(spark, out, keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // string-concat staging would create <out>/.compacting INSIDE the
    // store; Path normalization must strip the slash and use a sibling
    graft.streaming.StreamingOpsSinks.compactMvStore(
      spark, out + "/", keys, measures)
    assert(mvParts(out) == Set("batch_id=-1"), mvParts(out).toString)
    val leftovers = new java.io.File(out).listFiles()
      .map(_.getName).filter(_.contains("compacting"))
    assert(leftovers.isEmpty, leftovers.mkString(","))
    assert(graft.streaming.StreamingOpsSinks
      .readMvFoldStore(spark, out, keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap == before)
  }

  test("a crashed compaction swap is refused by the reader and COMPLETED by the next compact") {
    import graft.operators.MvFold
    val (out, _, facts, keys, measures) = buildMvStore()
    // simulate the crash window: the merged copy landed at the hidden
    // pending path (with its manifest), one store partition already
    // deleted, the swap never finished — the exact on-disk state a
    // kill -9 between delete and rename leaves behind
    val merged = MvFold.merge(
      spark.read.parquet(out).drop("batch_id"), keys, measures)
    val tmp = java.nio.file.Files.createTempDirectory("mv_h_pend")
      .resolve("staged").toString
    merged.write.parquet(tmp)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "_graft_folded_partitions"),
      mvParts(out).toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    val pending = java.nio.file.Paths.get(out, ".graft-compact-pending")
    val victim = mvParts(out).toSeq.sorted.head
    import org.apache.commons.io.FileUtils
    FileUtils.deleteDirectory(new java.io.File(out, victim))
    assert(new java.io.File(tmp).renameTo(pending.toFile))
    // the reader refuses the half-swapped store loudly
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingOpsSinks
        .readMvFoldStore(spark, out, keys, measures)
    }
    assert(e.getMessage.contains("crashed compaction pending"))
    // the next compact completes the swap from the durable merged copy
    graft.streaming.StreamingOpsSinks.compactMvStore(spark, out, keys, measures)
    assert(mvParts(out) == Set("batch_id=-1"))
    val got = graft.streaming.StreamingOpsSinks
      .readMvFoldStore(spark, out, keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val want = MvFold.read(MvFold.build(facts, keys, measures), keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == want)
    // recovery + compaction are IDEMPOTENT: a second compact over the
    // already-compacted store changes nothing
    graft.streaming.StreamingOpsSinks.compactMvStore(spark, out, keys, measures)
    assert(mvParts(out) == Set("batch_id=-1"))
    assert(graft.streaming.StreamingOpsSinks
      .readMvFoldStore(spark, out, keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap == want)
  }

  test("st40: durable streaming quantile MV equals the single-shot histogram build; compaction invariant") {
    import graft.operators.MvFold
    val facts = Tables.orders(spark, sf).select(
      col("o_orderkey"), col("o_orderpriority"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    val srcDir = java.nio.file.Files.createTempDirectory("hmv_src").toString
    val out = java.nio.file.Files.createTempDirectory("hmv_out")
      .resolve("out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("hmv_ckpt").toString
    val keys = Seq("o_orderpriority")
    val (lo, hi, nb) = (0L, 1L << 26, 4096)
    facts.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .repartition(1).write.mode("append").parquet(srcDir)
    facts.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .repartition(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    graft.streaming.StreamingOpsSinks.streamHistMvToParquet(
      spark, srcDir, schema, out, ckpt, keys, col("cents"), lo, hi, nb)
    def readOff() = graft.streaming.StreamingOpsSinks
      .readHistMvStore(spark, out, keys, Seq(50, 95), lo, hi, nb)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val got = readOff()
    // streamed store ≡ single-shot histogram build over all facts
    val want = MvFold.readHistQuantiles(
      MvFold.buildHist(facts, keys, col("cents"), lo, hi, nb),
      keys, Seq(50, 95), lo, hi, nb)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == want && got.nonEmpty)
    // compaction: read-off invariant, one partition left
    graft.streaming.StreamingOpsSinks.compactHistMvStore(
      spark, out, keys, checkpointDir = Some(ckpt))
    assert(mvParts(out) == Set("batch_id=-1"))
    assert(readOff() == got)
  }

  test("st43: signed quantile stream cancels the retracted slice's buckets exactly; crash replay safe") {
    import graft.operators.MvFold
    val ord = Tables.orders(spark, sf)
    val sel = Seq(col("o_orderpriority"),
      year(col("o_orderdate")).cast("long").as("order_year"),
      floor(col("o_totalprice") * 100.0 + 0.5).cast("long").as("cents"))
    val srcDir = java.nio.file.Files.createTempDirectory("hrt_src").toString
    val out = java.nio.file.Files.createTempDirectory("hrt_out")
      .resolve("out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("hrt_ckpt").toString
    val keys = Seq("o_orderpriority", "order_year")
    val (lo, hi, nb) = (0L, 1L << 26, 4096)
    ord.select(sel: _*).withColumn("w", lit(1L))
      .repartition(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    graft.streaming.StreamingOpsSinks.streamHistMvToParquet(
      spark, srcDir, schema, out, ckpt, keys, col("cents"), lo, hi, nb,
      weightCol = Some("w"))
    // CRASH before the commit marker → the restart replays the insert
    // batch (same partition, same signs), THEN folds the retraction
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    val victim = commits.last
    val crc = new java.io.File(victim.getParentFile, s".${victim.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    assert(victim.delete())
    ord.filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .select(sel: _*).withColumn("w", lit(-1L))
      .repartition(1).write.mode("append").parquet(srcDir)
    graft.streaming.StreamingOpsSinks.streamHistMvToParquet(
      spark, srcDir, schema, out, ckpt, keys, col("cents"), lo, hi, nb,
      weightCol = Some("w"))
    def canon(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.mkString("|")).toSet
    val got = canon(graft.streaming.StreamingOpsSinks
      .readHistMvStore(spark, out, keys, Seq(50, 95), lo, hi, nb))
    // ≡ single-shot histogram over the SURVIVING orders only
    val surviving = ord.filter(pmod(col("o_orderkey"), lit(7)) =!= 0)
      .select(sel: _*)
    val want = canon(MvFold.readHistQuantiles(
      MvFold.buildHist(surviving, keys, col("cents"), lo, hi, nb),
      keys, Seq(50, 95), lo, hi, nb))
    assert(got == want && got.nonEmpty)
    // and the retraction moved at least one quantile (not a no-op)
    val all = canon(MvFold.readHistQuantiles(
      MvFold.buildHist(ord.select(sel: _*), keys, col("cents"), lo, hi, nb),
      keys, Seq(50, 95), lo, hi, nb))
    assert(got != all)
  }

  test("st41: durable flagship rollup survives a crash replay and equals the one-shot engine output") {
    import graft.operators.{HierarchyAgg, HierarchyQueries, MvCount, MvSum}
    val adim = HierarchyQueries.dimension(spark, sf).aggregationDim
    val facts = HierarchyAgg.salesFacts(spark, sf)
      .select("leaf_key", "customer_id", "unit_quantity", "sales_amount")
    val srcDir = java.nio.file.Files.createTempDirectory("hr_src").toString
    val out = java.nio.file.Files.createTempDirectory("hr_out")
      .resolve("out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("hr_ckpt").toString
    val keys = Seq("leaf_key", "customer_id")
    val measures = Seq(MvSum("mv_sales", col("sales_amount")),
      MvSum("mv_qty", col("unit_quantity")), MvCount("mv_n"))
    def half(r: Int) = facts.filter(pmod(col("customer_id"), lit(2)) === r)
    half(0).repartition(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    graft.streaming.StreamingOpsSinks.streamMvFoldToParquet(
      spark, srcDir, schema, out, ckpt, keys, measures)
    // CRASH: output written, commit marker lost → restart MUST replay
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    val victim = commits.last
    val crc = new java.io.File(victim.getParentFile, s".${victim.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    assert(victim.delete())
    half(1).repartition(1).write.mode("append").parquet(srcDir)
    graft.streaming.StreamingOpsSinks.streamMvFoldToParquet(
      spark, srcDir, schema, out, ckpt, keys, measures)
    // read-off through the UNCHANGED engine = one-shot flagship rollup
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq
    val streamed = HierarchyAgg.finalizeRollup(
      HierarchyAgg.rollupMvFromPairs(
        graft.streaming.StreamingOpsSinks
          .readMvFoldStore(spark, out, keys, measures), adim), adim)
    val oneShot = HierarchyAgg.hierarchicalRollup(facts, adim)
    assert(canon(streamed) == canon(oneShot))
  }

  test("st42: signed retraction stream survives a crash replay; store equals the surviving-facts recompute (r19 verdict #5)") {
    import graft.operators.{HierarchyAgg, HierarchyQueries, MvCount, MvSum}
    val adim = HierarchyQueries.dimension(spark, sf).aggregationDim
    val facts = HierarchyAgg.salesFacts(spark, sf)
    val cols = Seq("leaf_key", "customer_id", "unit_quantity",
      "sales_amount").map(col)
    val srcDir = java.nio.file.Files.createTempDirectory("rt_src").toString
    val out = java.nio.file.Files.createTempDirectory("rt_out")
      .resolve("out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("rt_ckpt").toString
    val keys = Seq("leaf_key", "customer_id")
    val measures = Seq(MvSum("mv_sales", col("sales_amount")),
      MvSum("mv_qty", col("unit_quantity")), MvCount("mv_n"))
    // inserts land first (w = +1)
    facts.select(cols: _*).withColumn("w", lit(1L))
      .repartition(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    graft.streaming.StreamingOpsSinks.streamMvFoldToParquet(
      spark, srcDir, schema, out, ckpt, keys, measures,
      weightCol = Some("w"))
    // CRASH: the insert batch's partition is written, its commit
    // marker lost → the restart MUST replay it (same content, same
    // sign, same partition — idempotent), THEN fold the retraction
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    val victim = commits.last
    val crc = new java.io.File(victim.getParentFile, s".${victim.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    assert(victim.delete())
    val retracted = pmod(col("customer_id"), lit(10)) === 3 &&
      pmod(col("l_partkey"), lit(2)) === 0
    facts.filter(retracted)
      .select(cols: _*).withColumn("w", lit(-1L))
      .repartition(1).write.mode("append").parquet(srcDir)
    graft.streaming.StreamingOpsSinks.streamMvFoldToParquet(
      spark, srcDir, schema, out, ckpt, keys, measures,
      weightCol = Some("w"))
    // read-off ≡ the one-shot rollup over SURVIVING facts only —
    // sums, counts, AND the exact distinct (fully-retracted pairs
    // vanish at the merge, so retracted-out customers stop counting)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq
    val streamed = HierarchyAgg.finalizeRollup(
      HierarchyAgg.rollupMvFromPairs(
        graft.streaming.StreamingOpsSinks
          .readMvFoldStore(spark, out, keys, measures), adim), adim)
    val oneShot = HierarchyAgg.hierarchicalRollup(
      facts.filter(!retracted), adim)
    assert(canon(streamed) == canon(oneShot))
    // and the retraction is not a no-op: totals differ from all-facts
    assert(canon(streamed) !=
      canon(HierarchyAgg.hierarchicalRollup(facts, adim)))
    // a signed stream refuses bitmap measures loudly (monotone union)
    val e = intercept[Exception] {
      graft.operators.MvFold.buildSigned(
        facts.select(cols: _*).withColumn("w", lit(1L)), keys,
        Seq(graft.operators.MvBitmapDistinct("bm", col("customer_id"), 1 << 20)),
        col("w"))
    }
    assert(e.getMessage.contains("monotone"), e.getMessage)
  }

  test("recovery never deletes a partition outside the manifest: an orphan replayed-and-committed after the crash survives and re-merges") {
    import graft.operators.MvFold
    val (out, ckpt, facts, keys, measures) = buildMvStore()
    // simulate: the crashed compaction's snapshot saw batch 1 as an
    // ORPHAN (excluded from the fold, absent from the manifest); the
    // operator then resumed the stream, which replayed batch 1 and
    // COMMITTED it — on-disk now: batches 0 and 1 (both present, both
    // committed) plus a pending merged copy folding ONLY batch 0
    val merged = MvFold.merge(
      spark.read.parquet(s"$out/batch_id=0"), keys, measures)
    val tmp = java.nio.file.Files.createTempDirectory("mv_rp_pend")
      .resolve("staged").toString
    merged.write.parquet(tmp)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(tmp, "_graft_folded_partitions"),
      "batch_id=0".getBytes("UTF-8"))
    assert(new java.io.File(tmp)
      .renameTo(java.nio.file.Paths.get(out, ".graft-compact-pending").toFile))
    // recovery + fresh compaction: batch 1 must NOT be deleted by the
    // manifest swap (it is outside the manifest); the commit log says
    // it is committed, so the fresh pass folds it alongside -1
    graft.streaming.StreamingOpsSinks.compactMvStore(
      spark, out, keys, measures, checkpointDir = Some(ckpt))
    assert(mvParts(out) == Set("batch_id=-1"))
    val got = graft.streaming.StreamingOpsSinks
      .readMvFoldStore(spark, out, keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    val want = MvFold.read(MvFold.build(facts, keys, measures), keys, measures)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(got == want)
  }

  test("compaction fuzz: many random batch partials + random orphans, compacted mid-lifecycle, always equals the committed recompute") {
    import graft.operators.{MvCount, MvFold, MvSum}
    import spark.implicits._
    val keys = Seq("grp")
    val measures = Seq(MvSum("s", col("v")), MvCount("n"))
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 3) {
      val out = java.nio.file.Files.createTempDirectory(s"fz_out$trial")
        .resolve("out").toString
      val ckpt = java.nio.file.Files.createTempDirectory(s"fz_ck$trial").toString
      new java.io.File(s"$ckpt/commits").mkdirs()
      val nBatches = 6 + rnd.nextInt(5)
      var committedRows = Seq.empty[(String, Long)]
      var compactions = 0
      def compact(): Unit = {
        graft.streaming.StreamingOpsSinks.compactMvStore(
          spark, out, keys, measures, checkpointDir = Some(ckpt))
        compactions += 1
      }
      // PROTOCOL-FAITHFUL lifecycle (r19 ADVICE): micro-batch commits
      // are SEQUENTIAL — batch N+1 never starts before N commits, so
      // an uncommitted partition can only ever be the TAIL id. A
      // crashed batch is replayed by the WAL under the SAME id with
      // the SAME content on restart, then committed. (The old fuzz
      // committed batches after an uncommitted one — an interleaving
      // the streaming engine cannot produce, and one the purge-safe
      // orphan rule rightly treats as committed.)
      for (b <- 0 until nBatches) {
        // a batch = 1..20 random (grp, v) rows over a small key space
        val rows = Seq.fill(1 + rnd.nextInt(20))(
          (s"g${rnd.nextInt(4)}", rnd.nextInt(1000).toLong))
        def land(): Unit = MvFold.build(rows.toDF("grp", "v"), keys, measures)
          .write.mode("overwrite").parquet(s"$out/batch_id=$b")
        land()
        // ~1 in 4 batches crashes before its commit marker lands —
        // a TAIL orphan; compaction at this stopped instant must
        // drop it, and the subsequent WAL replay re-lands the same
        // content under the same id (the replay-safety story)
        if (rnd.nextInt(4) == 0) {
          if (rnd.nextInt(2) == 0 && committedRows.nonEmpty) compact()
          land() // restart: deterministic replay of the pinned batch
        }
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$ckpt/commits/$b"), "ok".getBytes)
        committedRows ++= rows
        // the engine PURGES old commit entries (minBatchesToRetain):
        // randomly keep only the newest — committed partitions below
        // max(commits) must still fold (the r19 data-loss fix)
        if (rnd.nextInt(3) == 0) {
          new java.io.File(s"$ckpt/commits").listFiles()
            .filter(f => f.getName.forall(_.isDigit) && f.getName.toLong < b)
            .foreach(f => assert(f.delete()))
        }
        // compaction can run at ANY stopped instant; the orphan
        // filter must hold at every point, not just at the end.
        if (rnd.nextInt(3) == 0 && committedRows.nonEmpty) compact()
      }
      compact()
      assert(mvParts(out) == Set("batch_id=-1"), s"trial $trial")
      val got = graft.streaming.StreamingOpsSinks
        .readMvFoldStore(spark, out, keys, measures)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      val want = MvFold.read(
        MvFold.build(committedRows.toDF("grp", "v"), keys, measures),
        keys, measures)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(got == want,
        s"trial $trial ($nBatches batches, $compactions compactions)")
    }
  }

  test("MV store readers refuse a keys/measures mismatch with the contract, not an opaque error (r18 verdict #8)") {
    import graft.operators.{MvCount, MvSum}
    val (out, _, _, keys, measures) = buildMvStore()
    // fewer measures than stored → the extra stored column is named
    val e1 = intercept[IllegalArgumentException] {
      graft.streaming.StreamingOpsSinks.readMvFoldStore(
        spark, out, keys, Seq(MvCount("n")))
    }
    assert(e1.getMessage.contains("unexpected columns") &&
      e1.getMessage.contains("sum_cents"))
    // a measure the store never carried → named as missing
    val e2 = intercept[IllegalArgumentException] {
      graft.streaming.StreamingOpsSinks.compactMvStore(
        spark, out, keys, measures :+ MvSum("ghost", col("cents")))
    }
    assert(e2.getMessage.contains("missing columns") &&
      e2.getMessage.contains("ghost"))
  }

  test("st18: streamed semantic dedup equals single-shot; planted dup labeled") {
    val emb = Tables.embeddings(spark, sf)
    val corpusEmb = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    // streamed-vs-single-shot parity through the full registry path
    // (fixture write → 4 micro-batches → exactly-once sink → read-back)
    val streamed = SparkEntry.queries("st18_stream_semantic_dedup")(spark, sf)
    val singleShot = graft.operators.Similarity.incrementalSemanticDedup(
      corpusEmb, emb.filter(pmod(col("vec_id"), lit(5)) === 0), tau = 0.9)
    val cols = Seq("vec_id", "cluster_id", "status", "match_id", "match_cos")
    assert(canon(streamed, cols: _*) == canon(singleShot, cols: _*))
    // planted duplicate: a batch vector that IS a corpus vector must
    // come back semantic_dup_of_corpus of that vector at cos 1.0
    val donorId = corpusEmb.select(min("vec_id")).head().getLong(0)
    val planted = corpusEmb.filter(col("vec_id") === donorId)
      .withColumn("vec_id", lit(999999L))
    val out = graft.operators.Similarity.incrementalSemanticDedup(
        corpusEmb, planted, tau = 0.9).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("status") == "semantic_dup_of_corpus")
    assert(out.head.getAs[Long]("match_id") == donorId)
    assert(out.head.getAs[Double]("match_cos") == 1.0)
  }

  test("st10: streamed near-dup classification equals the single-shot form") {
    val docs = Tables.documents(spark, sf)
    val streamed = SparkEntry.queries("st10_stream_neardup")(spark, sf)
    val singleShot = graft.operators.Dedup.incrementalNearDup(
      docs.filter(pmod(col("doc_id"), lit(5)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(5)) === 0),
      minJaccard = 0.05)
    val cols = Seq("doc_id", "status", "match_id", "match_jaccard")
    assert(canon(streamed, cols: _*) == canon(singleShot, cols: _*))
  }

  test("st30: cohort sketches split correctly in-state and match batch set ops") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.functions.KmvSketch
    def ev(id: Long, user: Long) = StreamingOps.EvT(
      id, java.sql.Timestamp.from(java.time.Instant.parse("2024-03-01T10:05:00Z")),
      user, "click")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[StreamingOps.EvT]
    val even = pmod(col("event_id"), lit(2L)) === 0L
    val q = ms.toDF()
      .groupBy("event_type")
      .agg(
        KmvSketch.kmvSketch(when(even, KmvSketch.kmvHash(col("user_id"))), 64)
          .as("ska"),
        KmvSketch.kmvSketch(when(!even, KmvSketch.kmvHash(col("user_id"))), 64)
          .as("skb"))
      .select(col("event_type"),
        KmvSketch.kmvEstimate(col("ska"), 64).as("est_a"),
        KmvSketch.kmvEstimate(col("skb"), 64).as("est_b"),
        KmvSketch.kmvEstimate(
          expr("slice(array_sort(array_union(ska, skb)), 1, 64)"), 64)
          .as("est_union"))
      .writeStream.outputMode("complete").format("memory")
      .queryName("st30_kmv").start()
    try {
      // even event ids carry users 1..30, odd ids users 21..50
      // (overlap 21..30), split across two micro-batches
      ms.addData((1L to 30L).map(u => ev(2 * u, u)))
      q.processAllAvailable()
      ms.addData((21L to 50L).map(u => ev(2 * u + 1, u)))
      q.processAllAvailable()
      val r = spark.table("st30_kmv").head()
      // all cohorts below k=64: estimates are EXACT counts
      assert(r.getLong(1) === 30L, "est_a")
      assert(r.getLong(2) === 30L, "est_b")
      assert(r.getLong(3) === 50L, "est_union")
    } finally q.stop()
  }
}

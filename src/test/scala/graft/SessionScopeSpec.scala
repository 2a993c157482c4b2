package graft

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, GraftTestBridge}
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.operators.{Dedup, HierarchyQueries}

/** Operators leave the caller's session alone: settings scoped to an
  * operator's query go through `GraftSession.scoped`, never through
  * the caller's conf, and a scoped session never reaches the artifact
  * registry. */
class SessionScopeSpec extends SparkSpec {
  private val Parts = "spark.sql.shuffle.partitions"
  private val Aqe = "spark.sql.adaptive.enabled"

  private def run(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a caller's StreamingQueryListener sees the caller's config, and every event, while st41 and st3 stream") {
    val seen = new ConcurrentLinkedQueue[String]()
    val progress = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
        seen.add(spark.conf.get(Parts))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        progress.incrementAndGet()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    val was = spark.conf.get(Parts)
    // a count no stream entry uses, so a leaked setting shows
    spark.conf.set(Parts, "3")
    spark.streams.addListener(listener)
    try {
      run("st41_stream_hier_rollup").count()
      run("st3_windowed_agg_stream").count()
      GraftTestBridge.drainEvents(spark)
    } finally {
      spark.streams.removeListener(listener)
      spark.conf.set(Parts, was)
    }
    assert(seen.size == 2, s"query starts seen: ${seen.asScala.toSeq}")
    assert(seen.asScala.forall(_ == "3"), s"caller's $Parts during streams: ${seen.asScala.toSeq}")
    assert(progress.get >= 3, s"progress events seen: ${progress.get}")
  }

  test("connected components' star rounds leave the caller's AQE on") {
    import spark.implicits._
    val nodes = (0L until 40L).toDF("doc_id")
    val edges = (0L until 39L).filter(_ % 10 != 9).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val aqe = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = aqe.add(spark.conf.get(Aqe))
    }
    val parts = spark.conf.get(Parts)
    GraftTestBridge.drainEvents(spark)
    spark.sparkContext.addSparkListener(listener)
    val got = try {
      // threshold 0 forces the distributed star rounds
      val cc = Dedup.connectedComponentsLoop(nodes, edges, "doc_id", "doc_a", "doc_b",
        maxIter = 30, localEdgeThreshold = 0L).collect()
      GraftTestBridge.drainEvents(spark)
      cc
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L until 40L).map(i => i -> i / 10 * 10).toMap)
    assert(aqe.size > 5, s"jobs seen: ${aqe.size}")
    assert(aqe.asScala.forall(_ == "true"), s"caller's $Aqe at job starts: ${aqe.asScala.toSeq}")
    assert(spark.conf.get(Parts) == parts)
  }

  test("st41 and d6 on two threads of one session each equal their single-threaded result") {
    val names = Seq("st41_stream_hier_rollup", "d6_dup_clusters")
    val alone = names.map(n => rows(run(n)))
    val (parts, aqe) = (spark.conf.get(Parts), spark.conf.get(Aqe))
    // rebuild d6's stored components, so its connected components run
    // while st41 streams
    Graft.releasePins(spark)
    val pool = Executors.newFixedThreadPool(2)
    try {
      val together = names
        .map(n => pool.submit(new Callable[Seq[String]] { def call() = rows(run(n)) }))
        .map(_.get(5, TimeUnit.MINUTES))
      names.zip(alone.zip(together)).foreach { case (n, (a, t)) =>
        assert(a == t, s"$n differs when run beside the other entry")
      }
    } finally pool.shutdown()
    assert(spark.conf.get(Parts) == parts && spark.conf.get(Aqe) == aqe)
  }

  test("scoped sessions never key the artifact registry; their stream buses leave the event bus") {
    import spark.implicits._
    val dim = HierarchyQueries.dimension(spark, sf)
    val nodes = (0L until 4L).toDF("doc_id")
    val edges = Seq((0L, 1L), (2L, 3L)).toDF("doc_a", "doc_b")
    (0 to Artifacts.MaxSessions).foreach { _ =>
      run("st3_windowed_agg_stream").count()
      assert(Graft.connectedComponents(nodes, edges).count() == 4)
    }
    assert(HierarchyQueries.dimension(spark, sf) eq dim,
      "the caller's stored dimension was released")
    // a stateless stream (a stateful one's own per-batch session hooks
    // a bus of Spark's that stays, scoped session or not)
    run("st9_incremental_rollup_stream").count()
    GraftTestBridge.drainEvents(spark)
    val buses = GraftTestBridge.streamBuses(spark)
    run("st9_incremental_rollup_stream").count()
    run("st9_incremental_rollup_stream").count()
    GraftTestBridge.drainEvents(spark)
    assert(GraftTestBridge.streamBuses(spark) == buses)
  }

  test("source gate: no conf.set( or conf.unset( outside GraftSession.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val call = """\.conf\.(set|unset)\(""".r
    val files = {
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "GraftSession.scala").toSeq
    }
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val hits = for {
      f <- files
      (line, i) <- scala.io.Source.fromFile(f.toFile, "UTF-8")
        .getLines().toSeq.zipWithIndex
      code = line.trim
      // comments may name the calls; code may not
      if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("/*")
      if call.findFirstIn(code.split("//").head).isDefined
    } yield s"$f:${i + 1}: $code"
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}

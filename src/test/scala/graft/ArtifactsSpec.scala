package graft

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The one artifact registry: pins cache and register, releaseAll
  * unpersists everything and is idempotent, the per-session bound
  * evicts oldest-first, stored artifacts are built once and rebuilt
  * after a release, and no cache outlives a release — including under
  * racing builds. The source gate keeps every cache call inside
  * `Artifacts.scala`.
  */
class ArtifactsSpec extends SparkSpec {
  import spark.implicits._

  /** Ids of RDDs persisted now that were not persisted at `before`.
    * Local checkpoints are left out: the ContextCleaner owns them. */
  private def leftBehind(before: Set[Int]): Map[Int, String] =
    spark.sparkContext.getPersistentRDDs.collect {
      case (id, rdd) if !before(id) && !rdd.isCheckpointed =>
        id -> s"${rdd.getClass.getSimpleName} ${rdd.name}"
    }.toMap

  test("pin caches the frame; releaseAll unpersists it and is idempotent") {
    val before = Artifacts.pinCount(spark)
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .withColumn("u", upper(col("s")))
    Artifacts.pin(df)
    df.count()
    assert(df.storageLevel != StorageLevel.NONE, "pin must cache")
    assert(Artifacts.pinCount(spark) == before + 1)
    Artifacts.releaseAll(spark)
    assert(df.storageLevel == StorageLevel.NONE, "releaseAll must unpersist")
    assert(Artifacts.pinCount(spark) == 0)
    Artifacts.releaseAll(spark) // idempotent
    assert(df.collect().length == 2, "released frames stay usable")
  }

  test("pins of one plan share one handle; releasing one leaves the other cached") {
    Artifacts.releaseAll(spark)
    def frame() = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
      .withColumn("u", upper(col("s")))
    val a = Artifacts.pin(frame())
    val b = Artifacts.pin(frame())
    assert((a ne b) && Artifacts.pinCount(spark) == 1, "an equal plan must share the pin")
    Artifacts.release(a)
    assert(b.storageLevel != StorageLevel.NONE, "releasing one must not free the other")
    Artifacts.release(b)
    assert(b.storageLevel == StorageLevel.NONE && Artifacts.pinCount(spark) == 0)
    // a leaf over a live plain pin shares its cache too
    val c = Artifacts.pin(frame())
    val l1 = Artifacts.leaf(frame())
    val l2 = Artifacts.leaf(frame())
    assert(Artifacts.pinCount(spark) == 1)
    assert(l1.collect().length == 2 && l2.collect().length == 2)
    Seq(c, l1).foreach(Artifacts.release)
    assert(c.storageLevel != StorageLevel.NONE, "a holder remains")
    Artifacts.release(l2)
    assert(c.storageLevel == StorageLevel.NONE && Artifacts.pinCount(spark) == 0)
  }

  test("operator-internal pins are registered and release cleanly") {
    Artifacts.releaseAll(spark)
    val docs = Seq(
      (1L, "alpha beta gamma delta", "en", "s", 22L),
      (2L, "alpha beta gamma delta", "en", "s", 22L),
      (3L, "something else entirely here", "en", "s", 28L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    operators.Dedup.minhashLsh(docs).collect()
    assert(Artifacts.pinCount(spark) >= 1,
      "minhashLsh's sigs pin must register with Artifacts")
    Artifacts.releaseAll(spark)
    assert(Artifacts.pinCount(spark) == 0)
  }

  test("the per-session bound unpersists oldest pins first") {
    Artifacts.releaseAll(spark)
    val bound = Artifacts.MaxPins
    val frames = (0 until bound + 3).map { i =>
      Artifacts.pin(Seq((i.toLong, i.toString)).toDF("id", "s"))
    }
    frames.foreach(_.count())
    assert(Artifacts.pinCount(spark) == bound)
    // the 3 oldest fell off and were unpersisted
    frames.take(3).foreach(f =>
      assert(f.storageLevel == StorageLevel.NONE, "oldest must evict"))
    assert(frames.last.storageLevel != StorageLevel.NONE)
    Artifacts.releaseAll(spark)
    frames.foreach(f => assert(f.storageLevel == StorageLevel.NONE))
  }

  test("past the session bound the oldest session is released") {
    Artifacts.releaseAll(spark)
    val sessions = Seq.fill(Artifacts.MaxSessions + 1)(spark.newSession())
    // distinct plans: the CacheManager is shared and unpersists by plan
    val frames = sessions.zipWithIndex.map { case (s, i) =>
      Artifacts.pin(s.range(i + 1).toDF("id"))
    }
    frames.foreach(_.count())
    assert(frames.head.storageLevel == StorageLevel.NONE, "oldest must evict")
    assert(frames.tail.forall(_.storageLevel != StorageLevel.NONE))
    sessions.foreach(Artifacts.releaseAll)
    frames.foreach(f => assert(f.storageLevel == StorageLevel.NONE))
  }

  test("stored artifacts build once per key, and a release forgets them") {
    Artifacts.releaseAll(spark)
    var builds = 0
    def art = Artifacts.stored(spark, "spec.squares", 10) {
      builds += 1
      spark.range(10).select((col("id") * col("id")).as("sq"))
    }
    val a = art
    assert((art eq a) && builds == 1, "second read must hit the memo")
    assert(a.agg(sum("sq")).as[Long].head() == 285L)
    Artifacts.releaseAll(spark)
    val b = art
    assert((b ne a) && builds == 2, "a read after release must rebuild")
    assert(b.agg(sum("sq")).as[Long].head() == 285L)
    Artifacts.releaseAll(spark)
  }

  test("h9 around releasePins leaves no cache persisted") {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val h9 = SparkEntry.queries("h9_incremental_rollup")
    val first = h9(spark, sf).collect().toSeq
    Graft.releasePins(spark)
    val second = h9(spark, sf).collect().toSeq
    Graft.releasePins(spark)
    assert(first.sortBy(_.toString) == second.sortBy(_.toString))
    val left = leftBehind(before)
    assert(left.isEmpty, s"persisted after releasePins: $left")
  }

  test("racing builds of one key and a concurrent releaseAll leave nothing behind") {
    Artifacts.releaseAll(spark)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    def async[T](f: => T) = pool.submit(new java.util.concurrent.Callable[T] {
      def call(): T = { start.await(); f }
    })
    try {
      // builds force their artifact inside `stored`; the frames are
      // not read afterwards (a release may already have freed them)
      val builders = Seq.fill(2)(async(Artifacts.stored(spark, "spec.race", sf)(
        Tables.lineitem(spark, sf).groupBy("l_partkey").agg(count(lit(1)).as("n")))))
      val releaser = async(Artifacts.releaseAll(spark))
      start.countDown()
      val built = builders.map(_.get(5, java.util.concurrent.TimeUnit.MINUTES))
      releaser.get(5, java.util.concurrent.TimeUnit.MINUTES)
      assert(built.forall(_.columns.toSeq == Seq("l_partkey", "n")))
    } finally pool.shutdown()
    Artifacts.releaseAll(spark)
    val left = leftBehind(before)
    assert(left.isEmpty, s"persisted after the final releaseAll: $left")
  }

  test("source gate: no cache(), persist( or unpersist( outside Artifacts.scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val call = """\.(cache\(\)|persist\(|unpersist\()""".r
    val files = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "Artifacts.scala").toSeq
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

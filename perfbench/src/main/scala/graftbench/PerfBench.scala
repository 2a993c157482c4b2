package graftbench

import java.nio.file.{Files, Paths}
import java.util.{ArrayList => JList, LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{ObjectMapper, SerializationFeature}
import org.apache.spark.graftbench.BusAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}

import graft.SparkEntry

/** One benchmark run: set up a workload, then drive its entry mix in a
  * closed loop with a single client, and dump every raw sample as JSON
  * for `run.py` to reduce and check.
  *
  * Usage: PerfBench <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *   <outDir> <cores> <verifiedFile>
  *
  * `verifiedFile` lists results already checked against their oracle
  * (one [[verifiedKey]] a line); only results not listed there are
  * written out for `run.py` to check, and each written result is read
  * back and digested, so that the digest checked is the one recorded.
  *
  * Timed per operation: the registry entry call (operator build),
  * `queryExecution.executedPlan` (Catalyst) and the forcing action,
  * which digests every output column of every row (exec). With trace
  * on, every second pass runs with [[Tracer]] attached, so traced and
  * untraced passes can be compared.
  */
object PerfBench {
  final case class Workload(entries: Seq[String], hooks: Seq[String])

  /** The workloads: the read and the write path of the same hierarchy
    * aggregation code. Every hook named here runs, timed on its own, in
    * set-up. The rollup and stream entries read only some of the
    * dimensions that `warmDims` builds; their first calls build and
    * cache those. */
  val workloads: Map[String, Workload] = Map(
    "rollup" -> Workload(
      Seq("h4_hier_agg", "h5_hier_agg_deep", "h6_hier_agg_parts",
        "h8_hier_agg_approx", "h33_sql_rollup", "h35_shuffle_dim_rollup",
        "h9_incremental_rollup"),
      Seq()),
    "ingest" -> Workload(
      Seq("st9_incremental_rollup_stream", "st41_stream_hier_rollup",
        "st42_stream_retraction", "st40_stream_quantile_mv"),
      Seq("warmFixtures")))

  val hooks: Map[String, (SparkSession, String) => Unit] = Map(
    "warmFixtures" -> graft.streaming.StreamingQueries.warmFixtures)

  val SpanKey = "graftbench.span"

  private def now(): Double = System.nanoTime() / 1e9

  /** Row count and order-independent digest of a result: every row is
    * projected to an UnsafeRow over all output columns, hashed with
    * XXH64, and the hashes are summed. Running it executes the whole
    * physical plan with no column pruned. */
  def force(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L
      var h = 0L
      rows.foreach { r =>
        val u = proj(r)
        n += 1
        h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset,
          u.getSizeInBytes, 42L)
      }
      Iterator.single((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((n, h), (pn, ph)) => (n + pn, h + ph) }
  }

  def verifiedKey(entry: String, rows: Long, digest: Long, sql: String): String = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sql.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString
    s"$entry $rows $digest $sha"
  }

  /** Storage of the RDDs still persisted. An `unpersist` returns before
    * the block manager drops the blocks, so storage info alone would
    * count an RDD whose removal is in flight. */
  def cachedRdds(spark: SparkSession): Seq[org.apache.spark.storage.RDDInfo] = {
    val live = spark.sparkContext.getPersistentRDDs.keySet
    spark.sparkContext.getRDDStorageInfo.toSeq.filter(i => live(i.id))
  }

  def cachedBytes(spark: SparkSession): Long =
    cachedRdds(spark).map(i => i.memSize + i.diskSize).sum

  /** Let the context cleaner unpersist what is no longer referenced, so
    * that what is counted does not depend on when the last GC ran. */
  def settle(): Unit = {
    System.gc()
    Thread.sleep(500)
  }

  def newSession(cores: Int, work: String): SparkSession = {
    val s = graft.GraftSession.builder("graft-perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def jmap(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  def main(args: Array[String]): Unit = {
    val Array(name, seedS, secondsS, traceS, data, out, coresS, verifiedFile) = args
    val wl = workloads.getOrElse(name,
      throw new IllegalArgumentException(s"unknown workload $name"))
    val (seed, seconds, traced, cores) =
      (seedS.toLong, secondsS.toDouble, traceS == "1", coresS.toInt)
    val work = Paths.get(out).toAbsolutePath.toString
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val jit = java.lang.management.ManagementFactory.getCompilationMXBean
    val loadStart = os.getSystemLoadAverage
    val fns = wl.entries.map(e => e -> SparkEntry.queries(e)).toMap

    // ---- set-up, in a cold JVM: session, warm hooks, first call of every entry
    val t0 = now()
    val spark = newSession(cores, work)
    val sc = spark.sparkContext
    spark.read.parquet(s"$data/region.parquet").collect()
    val tSession = now() - t0
    val hookRows = new JMap[String, Any]()
    wl.hooks.foreach { h =>
      val (b0, h0) = (cachedBytes(spark), now())
      hooks(h)(spark, data)
      hookRows.put(h, jmap("s" -> (now() - h0), "mb" -> (cachedBytes(spark) - b0) / 1e6))
    }
    val firstRows = new JMap[String, Any]()
    val verified = mutable.LinkedHashMap.empty[String, (Long, Long)]
    val firstDfs = mutable.LinkedHashMap.empty[String, DataFrame]
    wl.entries.foreach { e =>
      val f0 = now()
      val df = fns(e)(spark, data)
      verified(e) = force(df)
      firstRows.put(e, now() - f0)
      firstDfs(e) = df
    }
    val setupS = now() - t0
    val setupJitS = jit.getTotalCompilationTime / 1e3
    settle()
    val cached = new JList[Any]()
    cachedRdds(spark).foreach { i =>
      cached.add(jmap("rdd" -> i.name, "partitions" -> i.numPartitions,
        "cached_partitions" -> i.numCachedPartitions, "mb" -> (i.memSize + i.diskSize) / 1e6))
    }
    val setup = jmap("total_s" -> setupS, "session_s" -> tSession, "jit_s" -> setupJitS,
      "hooks" -> hookRows, "first_call_s" -> firstRows,
      "cached_mb" -> cachedBytes(spark) / 1e6, "cached" -> cached)

    // ---- results not yet checked against their oracle go to run.py.
    // Writing re-runs the DataFrame, so the written copy is digested
    // again: only a copy equal to the recorded result may be checked.
    val known = {
      val f = Paths.get(verifiedFile)
      if (Files.exists(f)) Files.readAllLines(f).asScala.toSet else Set.empty[String]
    }
    val verifiedJson = new JMap[String, Any]()
    wl.entries.foreach { e =>
      val (n, h) = verified(e)
      val sql = SparkEntry.oracleSql.getOrElse(e, "")
      val key = verifiedKey(e, n, h, sql)
      val fresh = !known(key)
      val written = if (!fresh) verified(e) else {
        val dir = s"$work/verify/$e"
        firstDfs(e).coalesce(1).write.mode("overwrite").parquet(dir)
        force(spark.read.parquet(dir))
      }
      verifiedJson.put(e, jmap("rows" -> n, "digest" -> h, "key" -> key, "sql" -> sql,
        "needs_check" -> fresh, "written_matches" -> (written == verified(e))))
    }

    // ---- the closed loop
    val rng = new scala.util.Random(seed)
    val ops = new JList[Any]()
    val passes = new JList[Any]()
    val gcBeans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcSeconds(): Double = gcBeans.map(_.getCollectionTime).sum / 1e3
    def runPass(tracedPass: Boolean, record: Boolean = true): Unit = {
      val (p0, gc0, jit0) = (now(), gcSeconds(), jit.getTotalCompilationTime)
      rng.shuffle(wl.entries).foreach { e =>
        var (t0, t1, t2) = (now(), Double.NaN, Double.NaN)
        val status = try {
          sc.setLocalProperty(SpanKey, s"$e/build")
          t0 = now()
          val df = fns(e)(spark, data)
          t1 = now()
          sc.setLocalProperty(SpanKey, s"$e/plan")
          df.queryExecution.executedPlan
          t2 = now()
          sc.setLocalProperty(SpanKey, s"$e/exec")
          if (force(df) == verified(e)) "ok" else "wrong_result"
        } catch {
          case scala.util.control.NonFatal(ex) =>
            System.err.println(s"[perfbench] $e failed: $ex")
            "error"
        } finally sc.setLocalProperty(SpanKey, null)
        val t3 = now()
        if (record) ops.add(jmap("entry" -> e, "pass" -> passes.size, "traced" -> tracedPass,
          "status" -> status, "total_s" -> (t3 - t0), "build_s" -> (t1 - t0),
          "plan_s" -> (t2 - t1), "exec_s" -> (t3 - t2)))
      }
      if (record) passes.add(jmap("traced" -> tracedPass, "s" -> (now() - p0),
        "gc_s" -> (gcSeconds() - gc0), "jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3))
    }
    // One untimed pass first: set-up has called each entry only once,
    // and the first timed pass would otherwise still pay for JIT.
    runPass(tracedPass = false, record = false)
    // With trace on, passes alternate untraced / traced, so that both
    // halves see the same JVM warmth and the overhead compares like
    // with like.
    val trace = new JMap[String, Any]()
    val tracer = new Tracer
    val deadline = now() + seconds
    var traceWall = 0.0
    do {
      val tracedPass = traced && passes.size % 2 == 1
      if (tracedPass) {
        sc.addSparkListener(tracer)
        spark.streams.addListener(tracer.stream)
      }
      val w0 = now()
      runPass(tracedPass)
      if (tracedPass) {
        traceWall += now() - w0
        BusAccess.drain(sc)
        sc.removeSparkListener(tracer)
        spark.streams.removeListener(tracer.stream)
      }
    } while (now() < deadline || (traced && passes.size < 2))
    if (traced) {
      trace.put("wall_s", traceWall)
      trace.put("labels", tracer.snapshot())
      trace.put("stream", tracer.stream.snapshot())
    }

    val provenance = jmap(
      "workload" -> name, "seed" -> seed, "cores" -> cores,
      "load_start_jvm" -> loadStart, "load_end_jvm" -> os.getSystemLoadAverage,
      "jvm" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
      "spark" -> spark.version, "scala" -> scala.util.Properties.versionNumberString)
    val result = jmap("provenance" -> provenance, "setup" -> setup,
      "verified" -> verifiedJson, "ops" -> ops,
      "passes" -> passes, "trace" -> trace)
    new ObjectMapper().enable(SerializationFeature.INDENT_OUTPUT)
      .writeValue(Paths.get(work, "raw.json").toFile, result)
    spark.stop()
  }
}

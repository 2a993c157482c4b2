package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer

/** Scratch profiler for the streaming entries (r22 verdict #1: "measure
  * where a single entry's time goes before cutting per-batch cost").
  * Runs each named st* query once (after the standard warmups), with a
  * StreamingQueryListener capturing every micro-batch's progress event,
  * and prints the per-batch duration breakdown Spark itself reports
  * (triggerExecution = whole batch; addBatch = plan+run the batch jobs;
  * walCommit/commitOffsets = checkpoint log fsyncs; getBatch/latestOffset
  * = source listing) plus the wall-clock total and the residue the
  * progress events don't cover (query start/stop, fixture reuse,
  * read-off of the sink).
  */
object StreamProf {
  private val TARGETS = Seq(
    "st39_stream_datasheet", "st11_stream_neardup_sink",
    "st18_stream_semantic_dedup", "st40_stream_quantile_mv",
    "st10_stream_neardup", "st24_stream_left_join",
    "st43_stream_quantile_retraction", "st7_stream_stream_join",
    "st42_stream_retraction", "st34_stream_decontam",
    "st14_session_window_append", "st41_stream_hier_rollup",
    "st9_incremental_rollup_stream", "st38_stream_mv_sink",
    "st35_stream_subimage", "st37_stream_mv_fold")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.GraftSession.local(cpus.toInt)
    val names = if (args.nonEmpty) args.toSeq else TARGETS
    // same warm protocol as Bench: every target once at sf0.001, then
    // the shared fixtures at the timed SF
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
        .queryExecution.toRdd.count()
      catch { case e: Throwable => System.err.println(s"warm $n: ${e.getMessage}") }
    }
    graft.SparkEntry.warmArtifacts(spark, sfDir)

    case class Batch(id: Long, durs: Map[String, Long], rows: Long)
    val batches = ArrayBuffer[Batch]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = {
        import scala.jdk.CollectionConverters._
        val p = e.progress
        batches.synchronized {
          batches += Batch(p.batchId,
            p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap,
            p.numInputRows)
        }
      }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    names.foreach { n =>
      (1 to 2).foreach { rep =>
        batches.synchronized { batches.clear() }
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count()
        val wall = (System.nanoTime() - t0) / 1e9
        val bs = batches.synchronized { batches.toSeq.sortBy(_.id) }
        val keys = Seq("triggerExecution", "addBatch", "queryPlanning",
          "walCommit", "commitOffsets", "getBatch", "latestOffset")
        val sums = keys.map(k => k -> bs.map(_.durs.getOrElse(k, 0L)).sum).toMap
        val trig = sums("triggerExecution") / 1e3
        println(f"SPROF $n%-32s rep$rep wall=$wall%6.2f batches=${bs.size}%2d " +
          f"trigSum=$trig%5.2f residue=${wall - trig}%5.2f " +
          keys.drop(1).map(k => f"$k=${sums(k) / 1e3}%.2f").mkString(" "))
        bs.foreach { b =>
          println(f"  batch ${b.id}%2d rows=${b.rows}%6d " +
            keys.map(k => f"$k=${b.durs.getOrElse(k, 0L)}%d").mkString(" ") + "ms")
        }
      }
    }
    spark.streams.removeListener(listener)
    spark.stop()
  }
}

package graft

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Dataset, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** What one call did, read only from Spark's own interfaces: the
  * listener bus for jobs, stages, tasks and micro-batches, and the
  * returned frame's `QueryPlanningTracker` for planning. See
  * [[Graft.trace]].
  *
  * Attribution: the call's jobs carry a per-call local property, which
  * a stream started inside the call inherits on its execution thread.
  * The streams of the call are the queries named by its jobs'
  * `sql.streaming.queryId` property, and only their progress counts.
  * So traced calls on other threads of the same session, and the jobs
  * of a nested traced call, stay out of a call's report.
  */
object Trace {
  /** One micro-batch of a stream the call ran: Spark's
    * `StreamingQueryProgress.durationMs` phases and input rows. */
  final case class Batch(queryId: String, batchId: Long,
      durationMs: Map[String, Long], inputRows: Long)

  /** `phasesMs` holds the `QueryPlanningTracker` phases (analysis,
    * optimization, planning) the returned frame ran during the call;
    * `analyzedNodes` counts its analyzed plan. Both are empty when the
    * call returns no frame. Task time is executor run time; spill is
    * memory plus disk spill. */
  final case class Report(wallS: Double, phasesMs: Map[String, Long],
      analyzedNodes: Option[Int], jobs: Long, stages: Long, tasks: Long,
      taskMs: Long, shuffleReadB: Long, shuffleWriteB: Long, spillB: Long,
      resultB: Long, batches: Seq[Batch]) {
    def json: String = obj(
      "wall_s" -> f"$wallS%.4f",
      "phases_ms" -> obj(phasesMs.toSeq.sorted.map { case (k, v) => k -> v.toString }: _*),
      "analyzed_nodes" -> analyzedNodes.fold("null")(_.toString),
      "jobs" -> jobs.toString, "stages" -> stages.toString, "tasks" -> tasks.toString,
      "task_ms" -> taskMs.toString, "shuffle_read_b" -> shuffleReadB.toString,
      "shuffle_write_b" -> shuffleWriteB.toString, "spill_b" -> spillB.toString,
      "result_b" -> resultB.toString,
      "batches" -> batches.map { b =>
        obj("query" -> str(b.queryId), "batch" -> b.batchId.toString,
          "input_rows" -> b.inputRows.toString,
          "duration_ms" -> obj(b.durationMs.toSeq.sorted.map { case (k, v) => k -> v.toString }: _*))
      }.mkString("[", ",", "]"))
  }

  /** A JSON object of already-encoded values. */
  private[graft] def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  private[graft] def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private val CallKey = "graft.trace.call"
  private val QueryIdKey = "sql.streaming.queryId"
  private val calls = new AtomicLong()

  /** Run `body` with a listener registered for this call only; it is
    * removed once the event bus has delivered the call's events. */
  def apply[T](spark: SparkSession)(body: => T): (T, Report) = {
    val sc = spark.sparkContext
    val counter = new Counter(calls.incrementAndGet().toString)
    val outer = sc.getLocalProperty(CallKey)
    sc.addSparkListener(counter)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var wallS = 0.0
    sc.setLocalProperty(CallKey, counter.call)
    val value =
      try body
      finally {
        sc.setLocalProperty(CallKey, outer)
        wallS = (System.nanoTime() - t0) / 1e9
        try GraftColumnBridge.drainEvents(spark)
        finally sc.removeSparkListener(counter)
      }
    (value, counter.report(value, startMs, wallS))
  }

  /** Counts the events of the jobs tagged `call`; a stage and its
    * tasks belong to the call that submitted the job owning it. */
  private final class Counter(val call: String) extends SparkListener {
    private val stageIds = mutable.Set.empty[Int]
    private val queryIds = mutable.Set.empty[String]
    private val progress = ArrayBuffer.empty[StreamingQueryProgress]
    private var jobs, stages, tasks, taskMs = 0L
    private var shuffleReadB, shuffleWriteB, spillB, resultB = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (e.properties != null && e.properties.getProperty(CallKey) == call) {
        jobs += 1
        stageIds ++= e.stageIds
        queryIds ++= Option(e.properties.getProperty(QueryIdKey))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      if (stageIds(e.stageInfo.stageId)) stages += 1
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stageIds(e.stageId)) {
        tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          taskMs += m.executorRunTime
          shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          resultB += m.resultSize
        }
      }
    }

    // progress can arrive before the job start that names its query:
    // keep all, filter when reporting
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case p: QueryProgressEvent => synchronized { progress += p.progress }
      case _ =>
    }

    def report(value: Any, startMs: Long, wallS: Double): Report = synchronized {
      val qe = value match {
        case ds: Dataset[_] => Some(ds.queryExecution)
        case _ => None
      }
      val phases = qe.toSeq.flatMap(_.tracker.phases.collect {
        case (name, p) if p.startTimeMs >= startMs => name -> p.durationMs
      }).toMap
      val nodes = qe.map { q => var n = 0; q.analyzed.foreach(_ => n += 1); n }
      val batches = progress.toSeq.filter(p => queryIds(p.id.toString)).map { p =>
        Batch(p.id.toString, p.batchId,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows)
      }.sortBy(b => (b.queryId, b.batchId))
      Report(wallS, phases, nodes, jobs, stages, tasks, taskMs,
        shuffleReadB, shuffleWriteB, spillB, resultB, batches)
    }
  }
}

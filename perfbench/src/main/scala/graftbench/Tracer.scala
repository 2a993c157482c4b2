package graftbench

import java.util.{LinkedHashMap => JMap}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-span counters from Spark's own listener interfaces. A span is
  * the `graftbench.span` local property in force when a job was
  * submitted (`<entry>/build`, `<entry>/plan` or `<entry>/exec`);
  * stages and tasks are attributed to the span of the job that owns
  * them. Streaming progress is kept per run, not per span. */
final class Tracer extends SparkListener {
  final class Counts {
    var jobs, stages, tasks = 0L
    var taskMs, shuffleReadB, shuffleWriteB, spillB, resultB, outputB, outputRows = 0L
  }
  private val counts = new ConcurrentHashMap[String, Counts]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()

  private def of(span: String): Counts = counts.computeIfAbsent(span, _ => new Counts)
  private def spanOfStage(id: Int): String = stageSpan.getOrDefault(id, "other")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(PerfBench.SpanKey)))
      .getOrElse("other")
    e.stageInfos.foreach(s => stageSpan.put(s.stageId, span))
    of(span).synchronized(of(span).jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(spanOfStage(e.stageInfo.stageId))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(spanOfStage(e.stageId))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        c.resultB += m.resultSize
        c.outputB += m.outputMetrics.bytesWritten
        c.outputRows += m.outputMetrics.recordsWritten
      }
    }
  }

  def snapshot(): JMap[String, Any] = {
    val out = new JMap[String, Any]()
    counts.asScala.toSeq.sortBy(_._1).foreach { case (span, c) =>
      val m = new JMap[String, Any]()
      c.synchronized {
        Seq("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_ms" -> c.taskMs, "shuffle_read_b" -> c.shuffleReadB,
          "shuffle_write_b" -> c.shuffleWriteB, "spill_b" -> c.spillB,
          "result_b" -> c.resultB, "output_b" -> c.outputB, "output_rows" -> c.outputRows)
          .foreach { case (k, v) => m.put(k, v) }
      }
      out.put(span, m)
    }
    out
  }

  /** Micro-batch progress of every streaming query the run starts. */
  object stream extends StreamingQueryListener {
    private val batchMs = mutable.ArrayBuffer.empty[Long]
    private var rowsIn = 0L

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized {
        val p = e.progress
        batchMs += p.batchDuration
        rowsIn += p.numInputRows
      }

    def snapshot(): JMap[String, Any] = synchronized {
      val m = new JMap[String, Any]()
      m.put("batch_ms", batchMs.toSeq.map(Long.box).asJava)
      m.put("rows_in", rowsIn)
      m
    }
  }
}

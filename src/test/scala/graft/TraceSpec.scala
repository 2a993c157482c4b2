package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftTestBridge}

/** `Graft.trace` reports a call's own jobs, stages, tasks and
  * micro-batches, from listeners that live only for the call. */
class TraceSpec extends SparkSpec {
  private val H4 = "h4_hier_agg"
  private val St41 = "st41_stream_hier_rollup"

  private def run(name: String): DataFrame = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.toRdd.count()
    df
  }
  private def traced(name: String): Trace.Report = Graft.trace(spark)(run(name))._2
  private def counts(r: Trace.Report) = (r.jobs, r.stages, r.tasks)

  test("a traced h4 call counts what an independent SparkListener counts") {
    run(H4)
    val jobs, stages, tasks = new AtomicLong()
    val seen = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
    }
    GraftTestBridge.drainEvents(spark)
    spark.sparkContext.addSparkListener(seen)
    val r = try traced(H4) finally {
      GraftTestBridge.drainEvents(spark)
      spark.sparkContext.removeSparkListener(seen)
    }
    assert(r.jobs > 0 && r.tasks >= r.stages && r.taskMs >= 0)
    assert(counts(r) == ((jobs.get, stages.get, tasks.get)))
    assert(r.analyzedNodes.exists(_ > 0))
    assert(r.phasesMs.keySet == Set("analysis", "optimization", "planning"), r.phasesMs)
    assert(r.batches.isEmpty)
    assert(r.wallS > 0)
  }

  test("a traced st41 reports its micro-batches and leaves the caller's listeners as they were") {
    run(St41)
    GraftTestBridge.drainEvents(spark)
    val sparkListeners = GraftTestBridge.sparkListeners(spark)
    val streamListeners = spark.streams.listListeners().toSeq
    val r = traced(St41)
    GraftTestBridge.drainEvents(spark)
    assert(r.batches.nonEmpty && r.jobs > 0)
    assert(r.batches.map(_.queryId).distinct.size == 1, r.batches)
    assert(r.batches.forall(_.durationMs.contains("triggerExecution")), r.batches)
    assert(r.batches.map(_.inputRows).sum > 0, r.batches)
    assert(GraftTestBridge.sparkListeners(spark) == sparkListeners)
    assert(spark.streams.listListeners().toSeq == streamListeners)
  }

  test("h4 and st41 traced on two threads of one session each report their single-threaded counts") {
    val names = Seq(H4, St41)
    names.foreach(run)
    val alone = names.map(traced)
    val pool = Executors.newFixedThreadPool(2)
    val together = try names
        .map(n => pool.submit(new Callable[Trace.Report] { def call() = traced(n) }))
        .map(_.get(5, TimeUnit.MINUTES))
      finally pool.shutdown()
    names.zip(alone.zip(together)).foreach { case (n, (a, t)) =>
      assert(counts(t) == counts(a), s"$n beside the other entry")
      assert(t.batches.size == a.batches.size, s"$n batches")
    }
    assert(together.head.batches.isEmpty, "st41's batches reached h4's report")
    assert(together(1).batches.nonEmpty)
  }
}

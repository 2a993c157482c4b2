package org.apache.spark.sql

/** Test access to the context's event bus (`private[spark]`). */
object GraftTestBridge {
  /** Streaming listener buses hooked into the context's event bus. */
  def streamBuses(spark: SparkSession): Int =
    spark.sparkContext.listenerBus
      .findListenersByClass[execution.streaming.runtime.StreamingQueryListenerBus]()
      .size

  /** Block until every event posted so far has been delivered. */
  def drainEvents(spark: SparkSession): Unit = GraftColumnBridge.drainEvents(spark)

  /** The listeners registered on the context's event bus. */
  def sparkListeners(spark: SparkSession): Seq[org.apache.spark.scheduler.SparkListenerInterface] = {
    import scala.jdk.CollectionConverters._
    spark.sparkContext.listenerBus.listeners.asScala.toSeq
  }
}

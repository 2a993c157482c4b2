package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge for graft's native Catalyst expressions.
  *
  * `classic.ExpressionUtils` is `private[sql]` in Spark 4, so library
  * extensions expose it from inside the package — the same pattern
  * Spark ecosystem libraries use to register custom expressions.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Session-scoped SQL registration of a custom expression (for
    * cluster-wide registration prefer `GraftExtensions` via
    * `spark.sql.extensions`).
    */
  def registerFunction(spark: SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  def analyzedPlan(df: Dataset[_]): catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  def dataFrame(spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** A copy of `spark` sharing its context and shared state, with its
    * own conf, temp views and streaming query manager. */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Unhook from the context's event bus the streaming listener bus
    * that carries `marker`. Every session's streaming query manager
    * hooks its own bus there for the life of the context; a session
    * that ran its one stream has no further use for it. */
  def unhookStreamBus(spark: SparkSession,
      marker: streaming.StreamingQueryListener): Unit = {
    val sc = spark.sparkContext
    sc.listenerBus
      .findListenersByClass[execution.streaming.runtime.StreamingQueryListenerBus]()
      .filter(_.listeners.contains(marker))
      .foreach(sc.removeSparkListener)
  }

  /** Block until the context's event bus has delivered every event
    * posted so far: listener events arrive asynchronously, so a
    * listener must be drained before its counts are read. */
  def drainEvents(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty(60000L)

  /** Rebuild a materialized Dataset as a bare `LogicalRDD` with
    * DEFAULT statistics.
    *
    * `Dataset.localCheckpoint` truncates lineage but CARRIES OVER the
    * source plan's statistics into the checkpoint's `LogicalRDD`
    * (`originStats`). In an iterative algorithm whose round output
    * feeds the next round's joins, those estimates get multiplied
    * every round (Catalyst's size-only join estimate is
    * left × right), so the `sizeInBytes` BigInt's bit-length grows
    * geometrically and the driver ends up in million-bit
    * `BigInteger.multiply` calls during planning — rounds that take
    * 0.7s at first take minutes by round 12. Dropping the carried
    * stats resets the estimate to the session default each round.
    */
  def freshStats(df: Dataset[_]): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(spark,
      execution.LogicalRDD(df.queryExecution.analyzed.output,
        df.queryExecution.toRdd)(spark))
  }

  /** Rebuild a CACHED-and-materialized Dataset as a one-node logical
    * plan over its own `InMemoryRelation` (optimization r21).
    *
    * `.cache()` pins execution but leaves the full build lineage in
    * the logical plan, so every consumer re-ANALYZES the whole
    * (often exponentially self-referencing) build tree — the stored
    * graph/dim artifacts produced final plans with hundreds to
    * thousands of Exchange nodes of pure lineage, and Catalyst
    * planning time dominated their consumers' floors. Re-rooting the
    * frame at the materialized `InMemoryRelation` leaf keeps
    * everything the cache gives (columnar storage, ACCURATE
    * `sizeInBytes` statistics, so broadcast-join decisions are
    * unchanged — a `LogicalRDD` checkpoint loses those stats and
    * flipped g14/g17's broadcasts to sort-merge joins) while
    * consumers now analyze a leaf.
    *
    * The caller must have materialized the cache (e.g. `df.count()`)
    * first, or the relation's statistics still read as the child
    * plan's estimate. Falls back to the input frame unchanged when
    * cache substitution doesn't kick in (e.g. caching disabled).
    */
  def cachedLeaf(df: Dataset[_]): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    // fresh wrapper so QueryExecution re-runs withCachedData and
    // substitutes the InMemoryRelation for the matching subtree
    val fresh = classic.Dataset.ofRows(spark, df.queryExecution.analyzed)
    fresh.queryExecution.optimizedPlan match {
      case leaf: catalyst.plans.logical.LeafNode =>
        classic.Dataset.ofRows(spark, leaf)
      case _ => df.toDF()
    }
  }

  /** The buffers behind `df`'s CacheManager entry, if `df` is cached.
    * The cache's owner keeps them: once `df` is unpersisted the entry
    * leaves the CacheManager, but a plan still holding its relation (a
    * [[cachedLeaf]] frame, or a read racing the unpersist) rebuilds
    * these buffers, and only this handle can clear them again. */
  def cacheBuffers(df: Dataset[_]): Option[execution.columnar.CachedRDDBuilder] =
    df.sparkSession.asInstanceOf[classic.SparkSession].sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[classic.Dataset[_]])
      .map(_.cachedRepresentation.cacheBuilder)

  /** DataFrame over an InternalRow RDD with an explicit schema — the
    * return path for operators that drop to the internal-row level
    * (e.g. the single-task union-find in
    * [[graft.operators.Dedup.connectedComponents]]).
    */
  def dataFrameFromInternalRows(spark: SparkSession,
      schema: types.StructType,
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow]): DataFrame = {
    val s = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(s, execution.LogicalRDD(
      catalyst.types.DataTypeUtils.toAttributes(schema), rdd)(s))
  }
}

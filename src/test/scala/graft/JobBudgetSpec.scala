package graft

/** The dispatch budget of the rollup entries: the jobs and stages of
  * one warm `toRdd.count()` at sf0.001, read from `Graft.trace`. At
  * this size these entries are bound by job dispatch, not data, so a
  * count may fall but must not grow silently. Every readout here is
  * dim-sized and sorts in one task: no executed plan may hold a range
  * exchange. */
class JobBudgetSpec extends SparkSpec {
  // entry -> (jobs, stages) of the traced count after one untraced call
  private val budget = Seq(
    "h4_hier_agg" -> (8, 8),
    "h5_hier_agg_deep" -> (8, 8),
    "h6_hier_agg_parts" -> (7, 7),
    "h8_hier_agg_approx" -> (7, 7),
    "h9_incremental_rollup" -> (9, 9),
    "h33_sql_rollup" -> (8, 8),
    "h34_hier_attr_cube" -> (7, 7),
    "h35_shuffle_dim_rollup" -> (8, 8))

  for ((name, (jobs, stages)) <- budget)
    test(s"$name: within its job and stage budget, with no range exchange") {
      SparkEntry.queries(name)(spark, sf).queryExecution.toRdd.count()
      val df = SparkEntry.queries(name)(spark, sf)
      val r = Graft.trace(spark)(df.queryExecution.toRdd.count())._2
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("rangepartitioning"), s"$name plans a range exchange:\n$plan")
      assert(r.jobs <= jobs && r.stages <= stages,
        s"$name ran ${r.jobs} jobs and ${r.stages} stages; budget $jobs and $stages")
    }
}

package graft.tools

/** Scratch profiler for per-round perf work (not part of the library):
  * times the queries named in `TARGETS` min-of-3 after a JVM/codegen
  * warmup at the smallest SF and the same cache pre-warm Bench uses.
  */
object Prof {
  private val TARGETS = Seq(
    "q6_distinct", "q16_percentile", "h9_incremental_rollup",
    "h14_history_rollup", "h15_multi_hier_exact", "h16_targeted_mv_repair",
    "h17_contribution", "h18_whatif_delta", "t15_boilerplate",
    "d15_substring_dedup", "q37_topk_per_group", "q38_integrity_audit",
    "q22_profile", "t11_tfidf", "d9_source_overlap")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.GraftSession.local(cpus.toInt)
    val names = if (args.nonEmpty) args.toSeq else TARGETS
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001")
        .queryExecution.toRdd.count()
      catch { case e: Throwable => System.err.println(s"warm $n: ${e.getMessage}") }
    }
    graft.SparkEntry.warmArtifacts(spark, sfDir)
    names.foreach { n =>
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(n)(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"PROF $n%-32s min=${ts.min}%6.2f  runs=${ts.map(t => f"$t%.2f").mkString(",")}")
    }
    spark.stop()
  }
}

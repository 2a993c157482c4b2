package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The warm of `Bench` and `tools.Probe` is each named entry's first
  * call at the timed SF: it builds what that entry reads and nothing
  * more, so a warmed h4 still runs its own rollup instead of reading
  * another entry's stored MV. */
class WarmSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val h4 = "h4_hier_agg"

  test("after warming h4 alone, h4's executed plan scans lineitem") {
    Graft.releasePins(spark)
    try {
      assert(SparkEntry.warm(spark, Seq(h4), sf)._1, "h4's first call failed")
      val df = SparkEntry.queries(h4)(spark, sf)
      df.queryExecution.toRdd.count()
      val plan = df.queryExecution.executedPlan
      val scanned = collect(plan) {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.getName)
      }.flatten
      assert(scanned.exists(_.startsWith("lineitem")),
        s"h4 did not run its rollup over lineitem (scans: $scanned):\n$plan")
    } finally Graft.releasePins(spark)
  }

  test("warming h4 registers only what one plain h4 call registers") {
    def registry = (Artifacts.memoKeys(spark), Artifacts.pinCount(spark))
    Graft.releasePins(spark)
    try {
      SparkEntry.queries(h4)(spark, sf).queryExecution.toRdd.count()
      val plain = registry
      Graft.releasePins(spark)
      SparkEntry.warm(spark, Seq(h4), sf)
      val warmed = registry
      assert(warmed == plain,
        s"warm registered ${warmed._1.diff(plain._1).map(_._1).toSeq.sorted.mkString(", ")} " +
          s"and ${warmed._2} pins; one h4 call registers ${plain._2} pins")
    } finally Graft.releasePins(spark)
  }
}

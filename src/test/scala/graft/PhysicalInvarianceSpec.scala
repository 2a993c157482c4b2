package graft

import org.apache.spark.sql.SparkSession

/** A result must not depend on physical choices. Each entry here runs
  * on fresh sessions that differ from the default in one setting —
  * shuffle partition count, AQE, broadcast joins — and must return
  * exactly the default session's rows. */
class PhysicalInvarianceSpec extends SparkSpec {
  private val settings = Seq(
    "spark.sql.shuffle.partitions" -> "1",
    "spark.sql.shuffle.partitions" -> "7",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  private def rows(s: SparkSession, name: String): Seq[String] =
    SparkEntry.queries(name)(s, sf).collect().map(_.toString).toSeq.sorted

  // g13/d6: the connected-components loops; h4, h6, h35 and h9: the
  // rollups whose closure join strategy the dimension picks
  for (name <- Seq("g13_connected_components", "d6_dup_clusters",
      "h4_hier_agg", "h6_hier_agg_parts", "h35_shuffle_dim_rollup",
      "h9_incremental_rollup"))
    test(s"$name: the default session's rows under each setting") {
      val want = rows(spark, name)
      assert(want.nonEmpty, s"$name returned no rows")
      settings.foreach { case (k, v) =>
        val s = spark.newSession()
        s.conf.set(k, v)
        try assert(rows(s, name) == want, s"$name differs with $k=$v")
        finally Graft.releasePins(s)
      }
    }
}

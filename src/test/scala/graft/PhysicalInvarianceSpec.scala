package graft

import org.apache.spark.sql.SparkSession

/** A result must not depend on physical choices. Each entry here runs
  * on fresh sessions that differ from the default in one setting —
  * shuffle partition count, AQE, broadcast joins, exchange reuse — and
  * must return exactly the default session's rows; a rollup, in the
  * default session's order. */
class PhysicalInvarianceSpec extends SparkSpec {
  private val settings = Seq(
    "spark.sql.shuffle.partitions" -> "1",
    "spark.sql.shuffle.partitions" -> "7",
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.exchange.reuse" -> "false")

  private def rows(s: SparkSession, name: String, at: String = sf): Seq[String] =
    SparkEntry.queries(name)(s, at).collect().map(_.toString).toSeq

  private def session(conf: (String, String)*): SparkSession = {
    val s = spark.newSession()
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  // g13/d6: the connected-components loops, compared as row sets;
  // h4, h6, h35 and h9: the rollups whose closure join strategy the
  // dimension picks, compared in order — the DFS order of a one-task
  // readout comes from its one-task sort, not from a range exchange;
  // q37, t5, s1, m2, p5 and st1: one entry of each other family, as row
  // sets
  private val ordered = Set("h4_hier_agg", "h6_hier_agg_parts",
    "h35_shuffle_dim_rollup", "h9_incremental_rollup")
  for (name <- Seq("g13_connected_components", "d6_dup_clusters",
      "h4_hier_agg", "h6_hier_agg_parts", "h35_shuffle_dim_rollup",
      "h9_incremental_rollup", "q37_topk_per_group", "t5_ngram_stats",
      "s1_knn_brute", "m2_feature_extract", "p5_epoch_shuffle",
      "st1_windowed_agg"))
    test(s"$name: the default session's rows under each setting") {
      def result(s: SparkSession) =
        if (ordered(name)) rows(s, name) else rows(s, name).sorted
      val want = result(spark)
      assert(want.nonEmpty, s"$name returned no rows")
      settings.foreach { case (k, v) =>
        val s = session(k -> v)
        try assert(result(s) == want, s"$name differs with $k=$v")
        finally Graft.releasePins(s)
      }
    }

  // q64/q71/q78 rank through Olap.rangedGlobal, whose stats and rank
  // branches must see one range partitioning. Without exchange reuse
  // they used to sample two; sf0.01 is the smallest testdata SF at
  // which the two samples split rows differently.
  private val sf01 = "/root/testdata/sf0.01"
  for (name <- Seq("q64_abc_pareto", "q71_decile_lift", "q78_decile_transition"))
    test(s"$name at sf0.01: the default session's rows without exchange reuse") {
      val want = rows(spark, name, sf01).sorted
      assert(want.nonEmpty, s"$name returned no rows")
      for (aqe <- Seq("true", "false")) {
        val s = session("spark.sql.exchange.reuse" -> "false",
          "spark.sql.adaptive.enabled" -> aqe)
        try assert(rows(s, name, sf01).sorted == want,
          s"$name differs without exchange reuse, AQE $aqe")
        finally Graft.releasePins(s)
      }
    }
}

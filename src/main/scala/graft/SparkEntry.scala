package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's headline result (main.py:27-69): hierarchical
    * rollup of sales facts over the region→nation dimension closure.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("h4_hier_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    HierarchyQueries.queries ++ OlapQueries.queries ++ TextQueries.queries ++
      DedupQueries.queries ++ SimilarityQueries.queries ++
      MultimodalQueries.queries ++ graft.streaming.StreamingQueries.queries ++
      Profile.queries ++ Packing.queries ++ RetrievalQueries.queries ++
      GraphQueries.queries

  /** Build every shared artifact the registry reads at `sfDir` — the
    * hierarchy dims and MVs, dedup components, the similarity graph,
    * the stream fixtures and the graph edges — so a timed entry pays
    * for its query, not for a one-time build that other entries read
    * for free. The one pre-warm list, run by [[warm]].
    */
  def warmArtifacts(spark: SparkSession, sfDir: String): Unit = {
    HierarchyQueries.warmDims(spark, sfDir)
    DedupQueries.warmComponents(spark, sfDir)
    SimilarityQueries.warmGraph(spark, sfDir)
    graft.streaming.StreamingQueries.warmFixtures(spark, sfDir)
    GraphQueries.warmEdges(spark, sfDir)
  }

  /** The warm protocol of `Bench` and `tools.Probe`: each of `names`
    * once at sf0.001, so timed calls find codegen compiled and the JIT
    * warm, then [[warmArtifacts]] at the timed `sfDir`. A failed step
    * is logged and never aborts. Returns whether the artifact warm
    * succeeded, and its seconds.
    */
  def warm(spark: SparkSession, names: Seq[String], sfDir: String): (Boolean, Double) = {
    val qs = queries
    names.foreach { n =>
      try qs(n)(spark, "/root/testdata/sf0.001").queryExecution.toRdd.count()
      catch { case e: Throwable =>
        System.err.println(s"[warm] warmup $n skipped: ${e.getMessage}") }
    }
    val t0 = System.nanoTime()
    val ok =
      try { warmArtifacts(spark, sfDir); true } catch { case e: Throwable =>
        System.err.println(s"[warm] artifact pre-warm skipped: ${e.getMessage}")
        false }
    (ok, (System.nanoTime() - t0) / 1e9)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    HierarchyQueries.oracles ++ OlapQueries.oracles ++ TextQueries.oracles ++
      DedupQueries.oracles ++ SimilarityQueries.oracles ++
      MultimodalQueries.oracles ++ graft.streaming.StreamingQueries.oracles ++
      Profile.oracles ++ Packing.oracles ++ RetrievalQueries.oracles ++
      GraphQueries.oracles
}

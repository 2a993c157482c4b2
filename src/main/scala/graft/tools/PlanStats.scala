package graft.tools

import java.nio.file.{Files, Paths}

/** Per-query PLANNING-cost stats: analyzed-logical-tree node count and
  * wall time from DataFrame construction to `executedPlan` (analysis +
  * cache lookup + optimization + physical planning, NO execution).
  * `runMain graft.tools.PlanStats <outFile> <query...>` — second
  * construction is reported (steady state: shared artifacts already
  * built by the warm hooks, codegen caches hot). The r21 optimization
  * evidence: the physical plans of cached-artifact consumers were
  * near-identical before/after (cache substitution already rooted
  * execution at InMemoryRelations), so the executed-plan dumps can't
  * show the cost this round removed — the ANALYZED tree each
  * invocation re-processed can, and this tool measures it.
  */
object PlanStats {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanStats <outFile> <query...>")
    val out = Paths.get(args(0))
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.GraftSession.local(cpus.toInt)
    try graft.SparkEntry.warmArtifacts(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[planstats] pre-warm skipped: ${e.getMessage}") }
    def one(n: String): (Int, Double) = {
      val fn = graft.SparkEntry.queries(n)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      var nodes = 0
      df.queryExecution.analyzed.foreach(_ => nodes += 1)
      df.queryExecution.executedPlan
      (nodes, (System.nanoTime() - t0) / 1e9)
    }
    val stats = names.map { n =>
      one(n) // first pass warms anything per-entry
      val (nodes, sec) = one(n)
      n -> (nodes, sec)
    }
    Files.write(out, (stats.map { case (n, (nodes, sec)) =>
      f""""$n":{"analyzed_nodes":$nodes,"plan_sec":$sec%.3f}"""
    }.mkString(s"""{"sf":"$sfDir","note":"analyzed logical tree node count + construction-to-executedPlan seconds (2nd pass, no execution)",""", ",", "}\n")).getBytes("UTF-8"))
    println("[planstats] wrote " + out)
    spark.stop()
  }
}

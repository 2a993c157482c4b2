package graft.tools

/** Time a SUBSET of registry queries in one session with the SAME
  * config + warm protocol as [[graft.Bench]] (sf0.001 warmup of the
  * named queries, shared-derivation pre-warm at the timed SF, 2 timed
  * runs each, min reported):
  * `runMain graft.tools.BenchSome <query...>` — the A/B feedback loop
  * for optimization rounds. Never touches the bench baseline files.
  */
object BenchSome {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchSome <query...>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val reps = sys.env.get("SPARK_GRAFT_BENCHSOME_REPS").map(_.toInt).getOrElse(2)
    val names = args.toSeq
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = graft.GraftSession.local(cpus.toInt)
    val warmDir = "/root/testdata/sf0.001"
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, warmDir).queryExecution.toRdd.count()
      catch { case e: Throwable =>
        System.err.println(s"[benchsome] warmup $n skipped: ${e.getMessage}") }
    }
    try graft.SparkEntry.warmArtifacts(spark, sfDir)
    catch { case e: Throwable =>
      System.err.println(s"[benchsome] pre-warm skipped: ${e.getMessage}") }
    val results = names.map { n =>
      val fn = graft.SparkEntry.queries(n)
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).queryExecution.toRdd.count()
          (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[benchsome] $n failed: ${e.getMessage}"); -1.0 }
      }
      val ok = ts.filter(_ >= 0)
      n -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    println(results.map { case (n, v) => f""""$n":$v%.3f""" }
      .mkString("""{"benchsome":{""", ",", s"""},"sf":"$sfDir"}"""))
    spark.stop()
  }
}

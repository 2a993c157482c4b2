package graft

/** Time ONE registry query: `runMain graft.BenchOne <name> [sfDir] [reps]`.
  * Same session config and toRdd.count forcing as [[Bench]], but scoped
  * to a single entry so plan iterations get a feedback loop measured in
  * seconds, not a full 135-query sweep. Never touches the bench
  * baseline files.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <query> [sfDir] [reps]")
    val name = args(0)
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = if (args.length > 2) args(2).toInt else 3
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name; known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.local(cpus.toInt)
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"""{"query":"$name","sf":"$sfDir","runs":[${times.map(t => f"$t%.3f").mkString(",")}],"min":${times.min}%.3f}""")
    spark.stop()
  }
}

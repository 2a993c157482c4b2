package graft.tools

import java.nio.file.{Files, Paths}

/** Dump `.explain("formatted")` for named registry queries to files:
  * `runMain graft.tools.PlanDump <outDir> <suffix> <query...>` writes
  * `<outDir>/<query>_<suffix>.txt` for each query — the before/after
  * plan evidence the optimization rounds commit under plans/r{N}/.
  * Session config mirrors [[graft.Bench]] so the dumped plan is the
  * plan the bench times.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query...>")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = graft.GraftSession.local(cpus.toInt)
    Files.createDirectories(outDir)
    names.foreach { n =>
      val fn = graft.SparkEntry.queries.getOrElse(n,
        sys.error(s"unknown query $n"))
      val txt =
        try fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case e: Throwable => s"explain failed: ${e.getMessage}" }
      Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        (s"== $n @ $sfDir ($suffix) ==\n" + txt).getBytes("UTF-8"))
      println(s"[plandump] wrote ${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}

package graft.tools

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.execution.FormattedMode

import graft.{GraftSession, SparkEntry, Trace}

/** Layer-by-layer timing and plans of registry entries:
  * `runMain graft.tools.Probe <outDir> <entry...>`.
  *
  * Same session, SF (`SPARK_GRAFT_SF_DIR`), cores (`SPARK_GRAFT_CPUS`)
  * and warm ([[SparkEntry.warm]]: one untimed first call of each named
  * entry, which builds only the artifacts it reads) as [[graft.Bench]].
  * Each entry then runs twice, split into build (the entry call), plan
  * (`executedPlan`) and exec (`toRdd.count`), each under
  * [[graft.Graft.trace]]; the run with the smaller wall time is kept.
  * Writes `<outDir>/<entry>.txt` (the formatted executed plan) and one
  * row per entry to `<outDir>/probe.json`, and prints each row.
  */
object Probe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Probe <outDir> <entry...>")
    val out = Paths.get(args(0))
    val names = args.toSeq.drop(1)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.local(cpus)
    Files.createDirectories(out)
    val (warmOk, warmSec) = SparkEntry.warm(spark, names, sfDir)
    val head = Seq("sf" -> Trace.str(sfDir), "cpus" -> cpus.toString,
      "warm_ok" -> warmOk.toString, "warm_sec" -> f"$warmSec%.2f")
    val rows = names.map { n =>
      val fn = SparkEntry.queries(n)
      val row = try {
        val runs = (1 to 2).map { _ =>
          val (df, build) = Trace(spark)(fn(spark, sfDir))
          val (_, plan) = Trace(spark) { df.queryExecution.executedPlan; df }
          val (_, exec) = Trace(spark)(df.queryExecution.toRdd.count())
          (df, Seq("build" -> build, "plan" -> plan, "exec" -> exec))
        }
        val (df, spans) = runs.minBy(_._2.map(_._2.wallS).sum)
        Files.write(out.resolve(s"$n.txt"),
          df.queryExecution.explainString(FormattedMode).getBytes(UTF_8))
        Trace.obj(Seq("entry" -> Trace.str(n)) ++ head ++ Seq(
          "wall_s" -> f"${spans.map(_._2.wallS).sum}%.4f",
          "jobs" -> spans.map(_._2.jobs).sum.toString) ++
          spans.map { case (k, r) => k -> r.json }: _*)
      } catch { case NonFatal(e) =>
        Trace.obj(Seq("entry" -> Trace.str(n)) ++ head :+
          ("error" -> Trace.str(String.valueOf(e.getMessage))): _*)
      }
      println(row)
      row
    }
    Files.write(out.resolve("probe.json"), rows.mkString("[\n", ",\n", "\n]\n").getBytes(UTF_8))
    spark.stop()
  }
}

package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The library's runnable mains, each with its reason. Timing and plan
  * work goes through `tools.Probe` on `Graft.trace`, not a new main. */
class MainsSpec extends AnyFunSuite {
  test("source gate: every def main under src/main is listed") {
    val allowed = Seq(
      "graft/Bench.scala" -> "the sweep: every entry's min-of-2 wall time, one JSON line, floors per (sf, cpus)",
      "graft/Verify.scala" -> "every entry's result as parquet for the DuckDB oracle compare",
      "graft/Quickstart.scala" -> "the README's in-memory first contact with the API",
      "graft/tools/Probe.scala" -> "the one timing and plan tool, on Graft.trace",
      "graft/tools/OracleDigests.scala" -> "generates the committed digest oracles of the codec entries",
      "graft/tools/GraphAnnSweep.scala" -> "recall evaluation behind s13's walk parameters",
      "graft/tools/LshSweep.scala" -> "precision and recall evaluation behind the minhash banding",
      "graft/tools/UpscaleData.scala" -> "writes the upscaled data for scaling evidence")
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val hits = for {
      f <- files
      line <- scala.io.Source.fromFile(f.toFile, "UTF-8").getLines().toSeq
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("/*")
      if """\bdef main\b|\bextends App\b""".r.findFirstIn(code.split("//").head).isDefined
    } yield root.relativize(f).toString
    assert(hits.sorted == allowed.map(_._1).sorted,
      s"mains changed.\n  found:  ${hits.sorted.mkString("\n    ")}" +
        s"\n  listed: ${allowed.map(_._1).sorted.mkString("\n    ")}")
  }
}

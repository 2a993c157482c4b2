package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every window without a partition (`Window.orderBy`, `OVER (ORDER BY`)
  * under src/main, each with the bound that keeps its frame small.
  * Spark runs such a window in one task (the `WindowExec: No Partition
  * Defined` warning), so a site is listed only when its input is
  * bounded by construction; the DuckDB oracle SQL is listed too, since
  * it never runs on Spark. A new site must be added here with its
  * bound, or partitioned. */
class WindowSitesSpec extends AnyFunSuite {
  private val oracle = "DuckDB oracle SQL; never planned by Spark"

  // (file under src/main/scala, trimmed source line, bound)
  private val sites = Seq(
    ("graft/operators/Hierarchy.scala",
      """row_number().over(Window.orderBy(pathKey)).cast("long")))""",
      "dimension nodes, on the path taken only when leveling did not order them"),
    ("graft/operators/Olap.scala",
      """.withColumn("__ylt", max("__bymax").over(Window.orderBy("__b")""",
      "skyline grid: one row per bucket (<= buckets, 256)"),
    ("graft/operators/Olap.scala",
      """.withColumn("__plt", max("__yeq").over(Window.orderBy("__x")""",
      "skyline sweep: distinct x of the grid-pruned survivors"),
    ("graft/operators/Olap.scala",
      """val wOff = Window.orderBy("__pid")""",
      "rangedGlobal offsets: one row per range partition (<= defaultParallelism)"),
    ("graft/operators/Olap.scala",
      """val wCum = Window.orderBy("decile")""",
      "decile lift: 10 rows"),
    ("graft/operators/GraphQueries.scala",
      """row_number().over(Window.orderBy(order: _*)).cast("long"))""",
      "rankedTopK: re-ranks the k rows left by sort.limit(k)"),
    ("graft/operators/Packing.scala",
      """Window.orderBy(col("source_rank"), col("source"), col("doc_id")))""",
      "interleave: <= perSource rows per source after the source_rank filter"),
    ("graft/operators/TextQueries.scala",
      """Window.orderBy(col("sc").desc, col("tok"))).cast("long"))""",
      "top tokens: re-ranks the 20 rows left by sort.limit(20)"),
    ("graft/operators/TextQueries.scala",
      """.withColumn("rank", row_number().over(Window.orderBy(""",
      "RAKE keywords: re-ranks the topN rows left by sort.limit(topN)"),
    ("graft/operators/TextQueries.scala",
      """.withColumn("rank", row_number().over(Window.orderBy(""",
      "PMI collocations: re-ranks the topN rows left by sort.limit(topN)"),
    ("graft/operators/OlapQueries.scala",
      """Window.orderBy(col("n_users").desc, col("path"))).cast("long"))""",
      "top paths: re-ranks the 20 rows left by sort.limit(20)"),
    ("graft/operators/OlapQueries.scala",
      """val w7 = Window.orderBy("d_num").rangeBetween(-6, 0)""",
      "active-customer series: one row per order day"),
    ("graft/operators/OlapQueries.scala",
      """val wCum = Window.orderBy("d_num")""",
      "active-customer series: one row per order day"),
    ("graft/operators/OlapQueries.scala",
      """Window.orderBy(col("p_retailprice"), col("p_partkey"))).cast("long"))""",
      "q62: ranks the skyline points only"),
    ("graft/operators/OlapQueries.scala",
      """val wTrend = Window.orderBy("day").rowsBetween(-3, 3)""",
      "q83: one row per order day"),
    ("graft/operators/Similarity.scala",
      """CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code""", oracle),
    ("graft/operators/HierarchyQueries.scala",
      """SELECT *, CAST(row_number() OVER (ORDER BY array_to_string(list_transform(path, x -> CAST(to_json(x) AS VARCHAR)), '/')) AS BIGINT) AS node_sort_order""",
      oracle),
    ("graft/operators/TextQueries.scala",
      """SELECT *, CAST(row_number() OVER (ORDER BY sc DESC, tok)""", oracle)) ++
    Seq(
      "row_number() OVER (ORDER BY COUNT(*) DESC, l_partkey) AS rn",
      "row_number() OVER (ORDER BY COUNT(*) DESC, l_partkey) AS rn",
      "row_number() OVER (ORDER BY COUNT(*) DESC, l_partkey) AS rn",
      "SELECT CAST(row_number() OVER (ORDER BY w DESC, a, b) AS BIGINT)",
      "SELECT CAST(row_number() OVER (ORDER BY r DESC, node) AS BIGINT)",
      "SELECT CAST(row_number() OVER (ORDER BY r DESC, node) AS BIGINT)",
      "SELECT CAST(row_number() OVER (ORDER BY deg DESC, node) AS BIGINT)",
      "CAST(row_number() OVER (ORDER BY COUNT(*) DESC, lbl)",
      "SELECT CAST(row_number() OVER (ORDER BY reach DESC, src)",
      "SELECT CAST(row_number() OVER (ORDER BY truss_deg DESC, node) AS BIGINT)")
      .map(("graft/operators/GraphQueries.scala", _, oracle)) ++
    Seq(
      "OVER (ORDER BY daily.d) AS BIGINT) AS cum_customers",
      "SELECT CAST(row_number() OVER (ORDER BY price, p_partkey)",
      "ROUND(SUM(rev) OVER (ORDER BY rev DESC, l_partkey",
      "SUM(c) OVER (ORDER BY decile",
      "SELECT o_custkey, CAST(ntile(10) OVER (ORDER BY",
      "SELECT o_custkey, CAST(ntile(10) OVER (ORDER BY",
      "SUM(cents) OVER (ORDER BY day",
      "COUNT(*) OVER (ORDER BY day")
      .map(("graft/operators/OlapQueries.scala", _, oracle))

  test("source gate: every unpartitioned window site under src/main is listed") {
    val root = java.nio.file.Paths.get("src/main/scala")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 50, s"scanned only ${files.size} files under $root")
    val found = for {
      f <- files
      line <- scala.io.Source.fromFile(f.toFile, "UTF-8").getLines().toSeq
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("/*")
      if """Window\.orderBy|OVER \(ORDER BY""".r.findFirstIn(code).isDefined
    } yield (root.relativize(f).toString, code)
    val listed = sites.map { case (f, code, _) => (f, code) }
    def show(s: Seq[(String, String)]) = s.sorted.map { case (f, c) => s"$f: $c" }
    assert(show(found) == show(listed),
      s"unpartitioned window sites changed.\n  unlisted: " +
        show(found.diff(listed)).mkString("\n    ") +
        "\n  gone: " + show(listed.diff(found)).mkString("\n    "))
  }
}

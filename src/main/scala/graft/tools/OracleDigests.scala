package graft.tools

/** Generator for the committed digest oracles of the lossy/float
  * codec entries (m8/m10/m11/m12/d20 — see
  * `MultimodalQueries.featureDigest`'s contract note). Runs each
  * digest query at the gate SFs and prints ready-to-paste SQL VALUES
  * tuples, each block keyed by the corpus fingerprint
  * `SUM(length(text))` so one oracle string serves every SF. Re-run
  * whenever the testdata or a codec changes; the printed tuples are
  * the committed expected values the driver's DuckDB compare checks.
  */
object OracleDigests {
  private val TARGETS = Seq("m8_jpeg_decode", "m10_jpeg420_decode",
    "m11_audio_spectrum", "m12_image_phash", "d20_phash_neardup",
    // committed-value consumers beyond the codec family: q20's HLL
    // counts and h8's per-node HLL values (paste only those columns)
    "q20_approx_sketch", "h8_hier_agg_approx")

  def main(args: Array[String]): Unit = {
    val sfDirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- TARGETS) {
      println(s"-- $name")
      for (d <- sfDirs) {
        val fp = graft.Tables.documents(spark, d)
          .selectExpr("sum(length(text))").head().getLong(0)
        val df = graft.SparkEntry.queries(name)(spark, d)
        val cols = df.columns
        val rows = df.collect().sortBy(_.toString)
        println(s"--   $d fingerprint=$fp cols=${cols.mkString(",")}")
        rows.foreach { r =>
          val vals = cols.map(c => r.get(r.fieldIndex(c)) match {
            case s: String => s"'$s'"
            case v => String.valueOf(v)
          })
          println(s"  (${vals.mkString(", ")}, $fp),")
        }
      }
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scratch SCALING-EVIDENCE generator (r22 verdict #5): the committed
  * test data tops out at sf0.1, where every suite entry is
  * fixed-overhead-bound and an 8-vs-32-core comparison says nothing
  * about parallel scaling. This tool writes a deterministic K×
  * upscale of sf0.1 to a scratch dir (default /tmp/graft_sfx10) —
  * K shifted copies of every table, key columns offset per copy so
  * join cardinalities scale linearly (duplicating rows without
  * shifting keys would square the key-join outputs), text/embedding
  * payloads perturbed per copy so dedup/similarity entries don't see
  * a planted 100%-duplicate corpus. FOR TIMING RATIOS ONLY — the
  * upscaled tables have no oracle and are never read by the bench or
  * the driver; /root/testdata is untouched.
  */
object UpscaleData {
  private val SHIFT = 10000000L // > every key range at sf0.1

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption.getOrElse("/tmp/graft_sfx10")
    val k = args.drop(2).headOption.map(_.toInt).getOrElse(10)
    val spark = graft.GraftSession.local(32)

    // key columns to shift per table; every other column is copied
    val keyCols: Map[String, Seq[String]] = Map(
      "region" -> Nil, "nation" -> Nil, // fixed dims: copy 0 only
      "customer" -> Seq("c_custkey"),
      "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"),
      "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"),
      "embeddings" -> Seq("vec_id"))

    keyCols.foreach { case (t, keys) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      val copies =
        if (keys.isEmpty) Seq(df)
        else (0 until k).map { i =>
          var c: DataFrame = df
          keys.foreach { kc =>
            c = c.withColumn(kc, col(kc) + lit(i * SHIFT))
          }
          // payload perturbation so copies aren't literal duplicates
          if (t == "documents")
            c = c.withColumn("text",
              if (i == 0) col("text") else concat(col("text"), lit(s" zq$i")))
          if (t == "embeddings")
            c = c.withColumn("embedding",
              if (i == 0) col("embedding")
              else transform(col("embedding"),
                x => (x + lit(i.toFloat * 0.0013f)).cast("float")))
          c
        }
      val all = copies.reduce(_ unionByName _)
      // 32-way files so scans can actually parallelize (the scaling
      // comparison is the point); events stays a SINGLE FILE because
      // runStream symlinks `$sfDir/events.parquet` as a file into the
      // stream source dir.
      if (t == "events") {
        val tmp = s"$out/_tmp_$t"
        all.coalesce(1).write.mode("overwrite").parquet(tmp)
        val fs = org.apache.hadoop.fs.FileSystem.getLocal(
          spark.sparkContext.hadoopConfiguration)
        val part = fs.globStatus(
          new org.apache.hadoop.fs.Path(s"$tmp/part-*.parquet")).head.getPath
        val dst = new org.apache.hadoop.fs.Path(s"$out/$t.parquet")
        fs.delete(dst, true)
        fs.rename(part, dst)
        fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
      } else {
        all.repartition(32).write.mode("overwrite").parquet(s"$out/$t.parquet")
      }
      println(s"[upscale] $t: ${df.count()} -> ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    }
    spark.stop()
  }
}

package graft.tools

import org.apache.spark.sql.functions._

/** Scratch eval for the d22/d25 banding decision (not part of the
  * library): measures the truth-pair Jaccard distribution and the
  * precision/recall of several (k, bands) minhash-LSH layouts against
  * exact n-gram Jaccard at τ = 0.05, so the shipped layout is picked
  * from data instead of the S-curve midpoint alone.
  */
object LshSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    val docs = graft.Tables.documents(spark, sfDir).localCheckpoint()
    val pairs = graft.operators.Dedup.ngramJaccard(docs)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .localCheckpoint()
    println("== truth-pair jaccard distribution ==")
    pairs.select(
      count(lit(1)).as("n_pairs"),
      sum(when(col("jaccard") >= 0.05, 1L).otherwise(0L)).as("n_ge_005"),
      sum(when(col("jaccard") >= 0.1, 1L).otherwise(0L)).as("n_ge_01"),
      sum(when(col("jaccard") >= 0.3, 1L).otherwise(0L)).as("n_ge_03"),
      sum(when(col("jaccard") >= 0.5, 1L).otherwise(0L)).as("n_ge_05"),
      sum(when(col("jaccard") >= 0.8, 1L).otherwise(0L)).as("n_ge_08"))
      .show(false)
    println("== percentiles of truth (j >= 0.05) ==")
    pairs.filter(col("jaccard") >= 0.05)
      .select(expr("percentile(jaccard, array(0.05,0.25,0.5,0.75,0.95))"))
      .show(false)
    val truth = pairs.filter(col("jaccard") >= 0.05)
      .select("doc_a", "doc_b").localCheckpoint()
    val nTruth = truth.count()
    val layouts = Seq((16, 16), (32, 32), (64, 64), (800, 400))
    val meta = docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .localCheckpoint()
    println(f"== layouts vs tau=0.05 (n_truth=$nTruth) ==")
    layouts.foreach { case (k, b) =>
      val tSig = System.nanoTime()
      val cand0 = graft.operators.Dedup.minhashPairs(docs, k = k, bands = b)
        .select("doc_a", "doc_b").localCheckpoint()
      val sigSecs = (System.nanoTime() - tSig) / 1e9
      println(f"k=$k%3d b=$b%3d candidate generation: $sigSecs%.1f s")
      Seq(false, true).foreach { blocked =>
        val t0 = System.nanoTime()
        val cand = if (!blocked) cand0 else cand0
          .join(meta.select(col("doc_id").as("doc_a"),
            col("lang").as("la"), col("n_chars").as("ca")), Seq("doc_a"))
          .join(meta.select(col("doc_id").as("doc_b"),
            col("lang").as("lb"), col("n_chars").as("cb")), Seq("doc_b"))
          .filter(col("la") === col("lb") &&
            abs(col("ca") - col("cb")) <= 3)
          .select("doc_a", "doc_b")
        val nCand = cand.count()
        val nHit = cand.join(truth, Seq("doc_a", "doc_b")).count()
        val secs = (System.nanoTime() - t0) / 1e9
        val mid = math.pow(1.0 / b, b.toDouble / k)
        println(f"k=$k%3d b=$b%3d r=${k / b}%2d blocked=$blocked%5s " +
          f"mid=$mid%.4f cand=$nCand%8d hits=$nHit%7d " +
          f"precision=${if (nCand == 0) 0.0 else nHit.toDouble / nCand}%.4f " +
          f"recall=${if (nTruth == 0) 0.0 else nHit.toDouble / nTruth}%.4f " +
          f"(${secs}%.1f s)")
      }
    }
    spark.stop()
  }
}

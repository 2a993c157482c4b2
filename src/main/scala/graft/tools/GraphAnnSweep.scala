package graft.tools

import org.apache.spark.sql.functions._

/** Scratch eval for the s13 walk-parameter decision (not part of the
  * library): recall@5 of [[graft.operators.Similarity.graphSearch]]
  * against brute force over the (degree, beam, entries) grid on the
  * EXACT graph build — the shipped configuration's axes (hop budget
  * fixed at the registry default; the LSH build's 0.60 ceiling was
  * measured separately in r19 and isn't re-swept here). The recall
  * denominator is computed from the collected truth set, so changing
  * k/nQueries keeps the readout honest (r19 verdict #6: lift the
  * 0.60 floor to >= 0.75).
  */
object GraphAnnSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.Similarity
    val emb = graft.Tables.embeddings(spark, sfDir)
    val truth = Similarity.bruteForceTopK(emb).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
    def recall(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.count(r => truth(
        (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id")))).toDouble /
        truth.size
    for (degree <- Seq(8, 16, 24);
         beam <- Seq(8, 16);
         entries <- Seq(8, 16)) {
      val ex = graft.Artifacts.pin(Similarity.exactKnnGraphEdges(emb, degree))
      val r = recall(Similarity.graphSearch(emb, degree = degree,
        beam = beam, nEntries = entries, prebuiltEdges = Some(ex)).collect())
      println(f"exact degree=$degree beam=$beam entries=$entries recall@5=$r%.2f")
      graft.Artifacts.release(ex)
    }
    spark.stop()
  }
}

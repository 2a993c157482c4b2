package graft

import graft.operators.Olap

/** Planted-frontier oracles for [[Olap.skyline2d]] (q62): strict
  * 2-D dominance under (min x, max y), including the tie cases the
  * grid prune must not get wrong.
  */
class SkylineSpec extends SparkSpec {
  import spark.implicits._

  private def sky(rows: Seq[(Long, Double, Long)], buckets: Int = 256) =
    Olap.skyline2d(rows.toDF("id", "x", "y"), "id", "x", "y", buckets)
      .as[(Long, Double, Long)].collect().toSet

  test("keeps the staircase, drops interior points") {
    // frontier: (1.0,30), (2.0,40), (3.0,50); interior points dominated
    val pts = Seq((1L, 1.0, 30L), (2L, 2.0, 40L), (3L, 3.0, 50L),
      (4L, 2.5, 35L), (5L, 3.0, 10L), (6L, 1.5, 30L))
    assert(sky(pts) === Set((1L, 1.0, 30L), (2L, 2.0, 40L), (3L, 3.0, 50L)))
  }

  test("same-x ties: only the max-y point survives; exact duplicates both do") {
    val pts = Seq((1L, 1.0, 10L), (2L, 1.0, 20L), // same x, 2 dominates 1
      (3L, 2.0, 30L), (4L, 2.0, 30L))             // exact duplicates
    assert(sky(pts) === Set((2L, 1.0, 20L), (3L, 2.0, 30L), (4L, 2.0, 30L)))
  }

  test("equal-y at larger x is dominated (strict on x)") {
    val pts = Seq((1L, 1.0, 10L), (2L, 2.0, 10L))
    assert(sky(pts) === Set((1L, 1.0, 10L)))
  }

  test("single bucket degenerate range (all x equal) still exact") {
    val pts = Seq((1L, 5.0, 1L), (2L, 5.0, 2L), (3L, 5.0, 3L))
    assert(sky(pts) === Set((3L, 5.0, 3L)))
  }

  test("grid prune is conservative: bucketed result equals 1-bucket exact") {
    // adversarial: monotone-increasing y so NOTHING is dominated —
    // every point is frontier; a wrong >= in the prune would drop the
    // bucket-boundary points
    val pts = (1L to 100L).map(i => (i, i.toDouble, i))
    assert(sky(pts, buckets = 7) === sky(pts, buckets = 1))
    assert(sky(pts, buckets = 7).size === 100)
  }

  test("empty input yields an empty frontier") {
    assert(sky(Seq.empty).isEmpty)
  }

  test("abcSummary: planted 80/15/5 classifies exactly one part per class") {
    import spark.implicits._
    val byPart = Seq((1L, 80.0), (2L, 15.0), (3L, 5.0)).toDF("id", "rev")
    val got = Olap.abcSummary(byPart, "id", "rev")
      .as[(String, Long, Double, Double)].collect().toSet
    assert(got === Set(("A", 1L, 80.0, 0.8), ("B", 1L, 15.0, 0.15),
      ("C", 1L, 5.0, 0.05)))
  }

  test("abcSummary: boundary part (cum share exactly at the cut) stays in the class") {
    import spark.implicits._
    // two parts of 40 each reach exactly 0.8 cumulative -> both A
    val byPart = Seq((1L, 40.0), (2L, 40.0), (3L, 20.0)).toDF("id", "rev")
    val got = Olap.abcSummary(byPart, "id", "rev").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("A" -> 2L, "C" -> 1L))
  }

  test("abcSummary: revenues with no exact double sum classify and total as in BigDecimal") {
    import spark.implicits._
    // 0.1/0.2/0.3-style revenues: their double sums depend on the
    // addition order, their decimal sums do not
    val revs = (1L to 40L).map(i => i -> Seq(0.1, 0.2, 0.3, 0.7, 1.1)(i.toInt % 5))
    val got = Olap.abcSummary(revs.toDF("id", "rev").repartition(7), "id", "rev")
      .as[(String, Long, Double, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val sorted = revs.sortBy { case (id, r) => (-r, id) }.map(t => BigDecimal(t._2))
    val total = sorted.sum
    val classes = sorted.scanLeft(BigDecimal(0))(_ + _).tail.zip(sorted).map {
      case (cum, r) =>
        val share = (cum / total).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        (if (share <= BigDecimal("0.80")) "A"
         else if (share <= BigDecimal("0.95")) "B" else "C") -> r
    }
    val want = classes.groupBy(_._1).map { case (k, rs) =>
      k -> (rs.size.toLong,
        rs.map(_._2).sum.setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    assert(got === want)
  }

  test("cdcApply: update applies, delete erases, re-insert revives, untouched keeps") {
    import spark.implicits._
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "tag", "v")
    val changes = Seq(
      (1L, "U", 2L, "b2", 25L),  // update key 2
      (2L, "D", 3L, null, 0L),   // delete key 3
      (1L, "D", 4L, null, 0L),   // delete then ...
      (2L, "I", 4L, "d", 40L),   // ... re-insert key 4
      (1L, "U", 5L, "e", 50L),   // update then ...
      (2L, "D", 5L, null, 0L)    // ... delete key 5 -> gone
    ).toDF("seq", "op", "k", "c_tag", "c_v")
    val got = operators.Olap.cdcApply(base, changes, "k")
      .as[(Long, String, Long)].collect().toSet
    assert(got === Set((1L, "a", 10L), (2L, "b2", 25L), (4L, "d", 40L)))
  }
}

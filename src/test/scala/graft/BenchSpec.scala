package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Floors, fold, suspect}

/** Bench's floor bookkeeping, with no Spark session: one floor set per
  * (sf, cpus), folded only from runs that started idle. */
class BenchSpec extends AnyFunSuite {
  private val c32 = Floors("sf0.1", 32, 1.5, "32-core minima",
    Map("a" -> "re-floored by hand"), Map("a" -> 0.5, "b" -> 1.0))
  private def set(sets: Seq[Floors], cpus: Int): Floors =
    sets.find(s => s.sf == "sf0.1" && s.cpus == cpus).get

  test("a 4-core fold creates, then lowers, only the (sf, 4) set") {
    val first = fold(Seq(c32), "sf0.1", 4, 0.5, Map("a" -> 0.75, "b" -> 2.0)).get
    assert(first.size == 2 && set(first, 32) == c32)
    assert(set(first, 4).queries == Map("a" -> 0.75, "b" -> 2.0))
    assert(set(first, 4).total == 2.75)
    val second = fold(first, "sf0.1", 4, 0.5, Map("a" -> 0.25, "b" -> 2.5)).get
    assert(second.size == 2 && set(second, 32) == c32)
    assert(set(second, 4).queries == Map("a" -> 0.25, "b" -> 2.0))
    assert(set(second, 4).total == 2.25)
  }

  test("a run that started contended folds nothing") {
    assert(fold(Seq(c32), "sf0.1", 32, 2.5, Map("a" -> 0.25)).isEmpty)
    assert(fold(Nil, "sf0.1", 4, 2.01, Map("a" -> 0.25)).isEmpty)
    assert(fold(Seq(c32), "sf0.1", 32, 2.0, Map("a" -> 0.25)).isDefined)
    // a load the platform does not report counts as idle
    assert(fold(Seq(c32), "sf0.1", 32, -1.0, Map("a" -> 0.25)).isDefined)
  }

  test("a failed entry never folds or counts, and a slower reading never raises a floor") {
    val s = set(fold(Seq(c32), "sf0.1", 32, 0.1,
      Map("a" -> -1.0, "b" -> 3.0, "c" -> -1.0)).get, 32)
    assert(s.queries == c32.queries && s.total == 1.5)
    assert(fold(Nil, "sf0.1", 4, 0.1, Map("a" -> -1.0)).isEmpty)
    val fresh = set(fold(Nil, "sf0.1", 4, 0.1, Map("a" -> -1.0, "b" -> 0.25)).get, 4)
    assert(fresh.queries == Map("b" -> 0.25) && fresh.total == 0.25)
  }

  test("floor notes survive a fold") {
    val s = set(fold(Seq(c32), "sf0.1", 32, 0.1, Map("a" -> 0.25, "z" -> 1.0)).get, 32)
    assert(s.floorNotes == c32.floorNotes && s.note == c32.note)
    assert(s.queries == Map("a" -> 0.25, "b" -> 1.0, "z" -> 1.0))
  }

  test("suspect compares with the same (sf, cpus) set, floors of 0.2 s and up, both runs over 3x") {
    val runs = Seq(("a", 1.6, 1.6), ("b", 3.5, 2.5), ("c", 9.0, 9.0))
    assert(suspect(Seq(c32), "sf0.1", 32, runs) == Seq("a"))
    assert(suspect(Seq(c32), "sf0.1", 4, runs).isEmpty)
    assert(suspect(Seq(c32), "sf1", 32, runs).isEmpty)
    val small = c32.copy(queries = Map("a" -> 0.19, "b" -> 0.2))
    assert(suspect(Seq(small), "sf0.1", 32, Seq(("a", 5.0, 5.0), ("b", 0.61, 0.61))) == Seq("b"))
    assert(suspect(Seq(small), "sf0.1", 32, Seq(("b", 0.6, 0.61))).isEmpty)
  }

  test("the committed BENCH_FULL.json parses; its (sf0.1, 32) set holds 300 floors and 5 notes") {
    val s = set(Bench.readFloors("BENCH_FULL.json"), 32)
    assert(s.queries.size == 300)
    assert(s.queries.values.forall(_ > 0))
    assert(math.abs(s.queries.values.sum - s.total) < 1e-9)
    assert(math.abs(s.total - 117.46445898699992) < 1e-9)
    assert(s.floorNotes.size == 5)
  }
}

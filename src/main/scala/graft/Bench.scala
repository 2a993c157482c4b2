package graft

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import com.fasterxml.jackson.annotation.JsonProperty
import com.fasterxml.jackson.databind.SerializationFeature
import com.fasterxml.jackson.databind.annotation.JsonDeserialize
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The sweep: every registry entry at `SPARK_GRAFT_SF_DIR` on
  * `SPARK_GRAFT_CPUS` cores, after [[SparkEntry.warm]], timed as the min
  * of two `queryExecution.toRdd.count()` calls. Prints one JSON summary
  * line, writes every entry's min and raw runs to `BENCH_LAST.json`, and
  * folds the green minima of a run that started idle into the floor set
  * of its (sf, cpus) in `BENCH_FULL.json`: at sf0.1 the entries are
  * bound by fixed dispatch overhead, which depends on the core count.
  */
object Bench {
  /** 1-min load average above which a run still measures but folds no floors. */
  private val FoldMaxLoad = 2.0

  /** The per-entry green minima of the runs at one (sf, cpus); `total`
    * is their sum, `floorNotes` explain manual re-floors. */
  private[graft] case class Floors(sf: String, cpus: Int, total: Double, note: String,
      @JsonProperty("floor_notes") floorNotes: Map[String, String],
      @JsonDeserialize(contentAs = classOf[java.lang.Double]) queries: Map[String, Double])
  private case class FloorFile(floors: Seq[Floors])

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  /** The floor sets in `path`; none while the file does not exist. */
  private[graft] def readFloors(path: String): Seq[Floors] = {
    val f = new File(path)
    if (f.exists) json.readValue(f, classOf[FloorFile]).floors else Nil
  }

  /** `sets` with this run's green results (≥ 0) min-folded into the
    * (sf, cpus) set, which is created when missing. The fold is
    * monotone: a slower reading never raises a floor, and other sets
    * and every floor note stay as they are. `None` when the run started
    * contended (a negative load means none was reported) or nothing
    * passed.
    */
  private[graft] def fold(sets: Seq[Floors], sf: String, cpus: Int,
      startLoad: Double, results: Map[String, Double]): Option[Seq[Floors]] = {
    val green = results.filter(_._2 >= 0)
    if (startLoad > FoldMaxLoad || green.isEmpty) None
    else {
      val (mine, rest) = sets.partition(s => s.sf == sf && s.cpus == cpus)
      val cur = mine.headOption.getOrElse(Floors(sf, cpus, 0.0,
        "per-entry green minima, folded by Bench from runs that started idle " +
          "(raw runs in BENCH_LAST.json)", Map.empty, Map.empty))
      val q = cur.queries ++ green.map { case (k, v) =>
        k -> cur.queries.get(k).fold(v)(math.min(_, v)) }
      Some((rest :+ cur.copy(total = q.values.sum, queries = q))
        .sortBy(s => (s.sf, s.cpus)))
    }
  }

  /** Entries whose two runs both exceed 3× their floor in the run's own
    * (sf, cpus) set: both landing in a contended window, or a real
    * regression. Floors under 0.2 s are scheduling noise and never flag. */
  private[graft] def suspect(sets: Seq[Floors], sf: String, cpus: Int,
      runs: Seq[(String, Double, Double)]): Seq[String] = {
    val floors = sets.find(s => s.sf == sf && s.cpus == cpus)
      .fold(Map.empty[String, Double])(_.queries)
    runs.collect { case (name, r1, r2)
      if floors.get(name).exists(b => b >= 0.2 && r1 > 3 * b && r2 > 3 * b) => name }
  }

  /** Writes `value` as sorted, indented JSON; a failure is printed, not thrown. */
  private def write(path: String, value: AnyRef): Boolean =
    try {
      json.writer(SerializationFeature.ORDER_MAP_ENTRIES_BY_KEYS)
        .withDefaultPrettyPrinter().writeValue(new File(path), value)
      true
    } catch { case NonFatal(e) =>
      System.err.println(s"[bench] writing $path failed: $e"); false }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf = Paths.get(sfDir).getFileName.toString
    // default to every core on the host — a hardcoded low fallback
    // silently benches a 32-core box at 4 threads
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    def load = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // sampled before any work: a run that starts contended still
    // measures and reports, but its readings can't set floors honestly
    val startLoad = load
    if (startLoad > FoldMaxLoad)
      System.err.println(f"[bench] contended start (load $startLoad%.2f > " +
        f"$FoldMaxLoad%.2f): measuring, folding no floors")
    val spark = GraftSession.local(cpus)
    val (warmOk, warmSec) = SparkEntry.warm(spark, SparkEntry.queries.keys.toSeq, sfDir)
    def once(name: String, fn: (SparkSession, String) => DataFrame): Double = {
      val t0 = System.nanoTime()
      // toRdd.count forces full evaluation of the final projection —
      // a DataFrame count() would let Catalyst prune the computed
      // columns and time a bare scan for row-level queries
      try { fn(spark, sfDir).queryExecution.toRdd.count(); (System.nanoTime() - t0) / 1e9 }
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
    }
    // min of two runs: a single run on a shared host swings by ±50%
    val runs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val r1 = once(name, fn)
      (name, r1, if (r1 >= 0) once(name, fn) else -1.0)
    }
    // a failed entry reports -1 and stays out of the total, so a
    // failing run can't read faster
    val results = runs.map { case (name, r1, r2) =>
      val ok = Seq(r1, r2).filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    val sets =
      try Some(readFloors("BENCH_FULL.json"))
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] reading BENCH_FULL.json failed, folding nothing: $e"); None }
    // raw runs go to BENCH_LAST.json only: floors are minima, and a raw
    // run written over them would raise every floor
    val folded = sets.flatMap(fold(_, sf, cpus, startLoad, results.toMap))
      .exists(s => write("BENCH_FULL.json", FloorFile(s)))
    val summary = ListMap("metric" -> "total", "value" -> results.map(_._2).filter(_ >= 0).sum,
      "unit" -> "sec", "runs" -> 2, "sf" -> sf, "cpus" -> cpus,
      "warm_ok" -> warmOk, "warm_sec" -> warmSec, "load_avg" -> load,
      "start_load" -> startLoad, "folded" -> folded,
      "failed" -> results.collect { case (name, v) if v < 0 => name },
      "suspect" -> suspect(sets.getOrElse(Nil), sf, cpus, runs))
    write("BENCH_LAST.json", summary ++ ListMap("queries" -> results.toMap,
      "raw_runs" -> runs.map { case (name, r1, r2) => name -> Seq(r1, r2) }.toMap))
    println(json.writeValueAsString(summary))
    spark.stop()
  }
}

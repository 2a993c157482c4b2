package graft

import org.apache.spark.sql.SparkSession

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default to every core on the host — a hardcoded low fallback
    // silently benches a 32-core box at 4 threads
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    // CONTENTION GUARD (house rule, wired into the tool per the r16
    // verdict): floors are all-time green minima, so folding a run
    // that STARTED on a busy host can only be safe (min() is
    // monotone) — but a contended run's numbers also can't lower any
    // floor honestly, and r16's closing sweep at load 3.51 produced
    // 10 false >2× readings. Sample the 1-min load BEFORE any work;
    // above the threshold the run still measures and reports (the
    // driver needs its BENCH_r{N} line) but REFUSES to fold floors,
    // and says so loudly in both stderr and the JSON line.
    var startLoad = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val foldMaxLoad = sys.env.get("SPARK_GRAFT_FOLD_MAXLOAD")
      .map(_.toDouble).getOrElse(2.0)
    // PRE-SWEEP LOAD DECAY (r21, the r20 verdict's #1c): a sweep that
    // STARTS contended ships 300 contaminated readings and then has to
    // re-measure its way back to defensibility — waiting out a
    // transient load spike BEFORE the clock starts is strictly
    // cheaper. Same poll loop as the remeasure phase; bounded by
    // SPARK_GRAFT_START_WAIT seconds (default 300; 0 disables), and a
    // never-idle host degrades to the old behavior (measure anyway,
    // refuse to fold).
    val startWait = sys.env.get("SPARK_GRAFT_START_WAIT")
      .map(_.toInt).getOrElse(300)
    if (startLoad >= 0 && startLoad > foldMaxLoad && startWait > 0) {
      val deadline = System.nanoTime() + startWait * 1000000000L
      while (startLoad >= 0 && startLoad > foldMaxLoad &&
          System.nanoTime() < deadline) {
        System.err.println(
          f"[bench] start: waiting for idle (load $startLoad%.2f > $foldMaxLoad%.2f)")
        Thread.sleep(10000)
        startLoad = java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage
      }
    }
    val loadOkToFold = startLoad < 0 || startLoad <= foldMaxLoad
    if (!loadOkToFold)
      System.err.println(
        f"[bench] ======== CONTENDED RUN: start load_avg $startLoad%.2f > " +
          f"$foldMaxLoad%.2f — measuring, but floor fold is DISABLED " +
          "(re-run idle to fold; override with SPARK_GRAFT_FOLD_MAXLOAD) ========")
    val spark = GraftSession.local(cpus.toInt)
    // warm protocol (SparkEntry.warm): every query once at the smallest
    // SF so measured times reflect steady state (codegen compiled, JIT
    // warm) rather than first-call compilation, then the shared
    // artifacts at the TIMED SF — the sf0.001 pass doesn't touch the
    // timed sfDir's session caches (keyed by sfDir), so without it the
    // alphabetically-first consumer (h10 for the hierarchy dims, d10
    // for the dedup components) is billed for a one-time build every
    // other query reads for free. Best-effort: never aborts the bench.
    // Success + duration of the artifact warm are REPORTED in the
    // output JSON: a silently failed warm would otherwise bill the
    // first consumer for the cold build with no marker in the results.
    val (warmOk, warmSec) = SparkEntry.warm(spark, SparkEntry.queries.keys.toSeq, sfDir)
    // noise control: the per-round driver runs on a contended host
    // (observed ±50% per-query swings round to round); each query is
    // timed TWICE and reports the min, which tracks fresh uncontended
    // reruns far more closely than a single sample
    def once(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      // toRdd.count forces full evaluation of the final projection —
      // a DataFrame count() would let Catalyst prune the computed
      // columns and time a bare scan for row-level queries
      try { fn(spark, sfDir).queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9 }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); -1.0 }
    }
    val runs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val r1 = once(name, fn)
      val r2 = if (r1 >= 0) once(name, fn) else -1.0
      (name, r1, r2)
    }
    // failed queries report -1 so they can't masquerade as fast runs
    val results = runs.map { case (name, r1, r2) =>
      val ok = Seq(r1, r2).filter(_ >= 0)
      name -> (if (ok.isEmpty) -1.0 else ok.min)
    }
    // contention marker: min-of-2 can't save a query when BOTH runs
    // land in a contended window (observed: q3 at 5.38/10.58 s vs a
    // 0.40 s uncontended floor). Compare each pair against the
    // COMMITTED BENCH_FULL minimum (git HEAD first — the working copy
    // is overwritten by every bench run — file fallback) and list
    // queries whose both runs exceed 3× it, so the reader knows those
    // minima are host noise, not regressions.
    // Committed baseline = (sf it was recorded at, per-query floors).
    // Read git HEAD first (the working copy may hold an unmerged fold),
    // file fallback; whitespace-tolerant so a pretty-printed baseline
    // still parses. The sf travels with the floors so both the suspect
    // detector and the minima fold can refuse cross-SF comparisons.
    val committedBaseline: Option[(String, Map[String, Double])] = {
      def parse(txt: String): Option[(String, Map[String, Double])] =
        for {
          sfm <- "\"sf\"\\s*:\\s*\"([^\"]+)\"".r.findFirstMatchIn(txt)
          qm <- "\"queries\"\\s*:\\s*\\{".r.findFirstMatchIn(txt)
        } yield sfm.group(1) ->
          "\"([A-Za-z0-9_]+)\"\\s*:\\s*(-?[0-9][0-9.eE+-]*)".r
            .findAllMatchIn(txt.substring(qm.end, txt.indexOf('}', qm.end)))
            .map(g => g.group(1) -> g.group(2).toDouble).toMap
      val fromGit =
        try {
          val p = new ProcessBuilder("git", "show", "HEAD:BENCH_FULL.json")
            .redirectErrorStream(false).start()
          val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
          if (p.waitFor() == 0) parse(out) else None
        } catch { case _: Throwable => None }
      fromGit.orElse(
        try parse(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_FULL.json")), "UTF-8"))
        catch { case _: Throwable => None })
    }
    val committedMin: Map[String, Double] =
      committedBaseline.collect { case (sf, qs) if sf == sfDir => qs }
        .getOrElse(Map.empty)
    // floors under 0.2 s are scheduling-noise-dominated (3× of 15 ms
    // trips on any contended tick) and contribute nothing to the
    // total — only flag queries whose floor is big enough that a 3×
    // exceedance means real contention or a real regression
    val suspect = runs.collect { case (name, r1, r2)
      if r1 > 0 && r2 > 0 && committedMin.get(name)
        .exists(b => b >= 0.2 && r1 > 3 * b && r2 > 3 * b) => name }
    // failures are EXCLUDED from the total (counting their -1 sentinel
    // would make a failing round read FASTER) and listed explicitly so
    // the driver can gate on failed.nonEmpty
    val failed = results.collect { case (name, v) if v < 0 => name }
    val total = results.map(_._2).filter(_ >= 0).sum
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // SELF-DISPOSITION (r17 verdict #1): a contended sweep previously
    // shipped its >2×-of-floor readings as an open question the next
    // round had to answer with manual idle re-runs. Close that
    // loop in the tool: after the sweep, every entry whose best run
    // exceeded 2× its committed floor is re-measured — the tool first
    // waits for the 1-min host load to decay below the fold threshold
    // (poll every 10 s, up to SPARK_GRAFT_REMEASURE_WAIT seconds,
    // default 600; 0 disables the phase) — and the re-measures ship
    // IN the same artifact (`remeasured` map + `remeasure_load`), so
    // a contaminated run carries its own verdict. Re-measured minima
    // fold into BENCH_FULL only when taken under an ok load; on a
    // never-idle host the phase times out and degrades to report-only.
    def loadNow: Double = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val resultMap = results.toMap
    val over2x = results.collect { case (name, v)
      if v > 0 && committedMin.get(name).exists(b => b >= 0.2 && v > 2 * b)
      => name }
    val remeasureWait = sys.env.get("SPARK_GRAFT_REMEASURE_WAIT")
      .map(_.toInt).getOrElse(600)
    var remeasureLoad = -1.0
    val remeasured: Map[String, Double] =
      if (over2x.isEmpty || remeasureWait <= 0) Map.empty
      else {
        val deadline = System.nanoTime() + remeasureWait * 1000000000L
        var l = loadNow
        while (l >= 0 && l > foldMaxLoad && System.nanoTime() < deadline) {
          System.err.println(f"[bench] remeasure: waiting for idle (load $l%.2f > $foldMaxLoad%.2f)")
          Thread.sleep(10000)
          l = loadNow
        }
        remeasureLoad = l
        // worst ratios first; cap the budget so a fully contaminated
        // sweep (r17 had 33 >2× entries) still re-measures in bounded
        // time. 2 timed runs each, min reported — same protocol as
        // the sweep itself. Entries past the cap are COUNTED in
        // `remeasure_capped` below — an over-2× entry absent from the
        // remeasured map must be distinguishable from one the phase
        // never considered, or its disposition re-opens manually.
        // Cap raised 40 → 150 and env-tunable (r21, r20 verdict #1:
        // the r20 sweep had 67 >2× entries and shipped 27 with no
        // disposition): re-measuring is ~2× the contaminated entries'
        // own runtime — minutes — and an undispositioned >2× reading
        // costs a round of manual adjudication.
        over2x.sortBy(n => -(resultMap(n) / committedMin(n)))
          .take(sys.env.get("SPARK_GRAFT_REMEASURE_CAP")
            .map(_.toInt).getOrElse(150))
          .map { n =>
            val fn = SparkEntry.queries(n)
            val a = once(n, fn)
            val b = if (a >= 0) once(n, fn) else -1.0
            val ok = Seq(a, b).filter(_ >= 0)
            n -> (if (ok.isEmpty) -1.0 else ok.min)
          }.toMap
      }
    val remeasureCapped = math.max(0,
      (if (remeasureWait <= 0) 0 else over2x.size) - remeasured.size)
    val remeasureLoadOk = remeasured.nonEmpty &&
      (remeasureLoad < 0 || remeasureLoad <= foldMaxLoad)
    // ADJUSTED TOTAL (r21, r20 verdict #1b): the artifact's own
    // defensible headline — the sweep total with every VERIFIED-IDLE
    // green re-measure substituted for its contaminated sweep reading.
    // Absent re-measures (none needed, or the phase timed out /
    // stayed contended) leave the sweep numbers in place, so
    // adjusted_total == value exactly when there is nothing defensible
    // to substitute.
    val adjustedTotal = results.collect { case (name, v) if v >= 0 =>
      if (remeasureLoadOk) remeasured.get(name).filter(_ >= 0).getOrElse(v)
      else v
    }.sum
    // NOISE-EXEMPT DISPOSITION (r18 verdict #4): entries >2× floor
    // whose floor sits BELOW the 0.2 s remeasure cut are deliberately
    // excluded from self-disposition (a 2× exceedance of a 50 ms floor
    // is scheduling noise, and re-measuring it proves nothing) — but
    // silently excluding them left the artifact printing >2× readings
    // with no disposition. Name them explicitly, so every >2× entry in
    // an artifact is re-measured, failed, or declared noise-exempt.
    // Persistent offenders still get adjudicated: the floor
    // re-validation path below has NO floor cutoff, so an entry that
    // exceeds on consecutive IDLE sweeps re-floors to its median idle
    // reading and leaves this list for good.
    val noiseExempt = results.collect { case (name, v)
      if v > 0 && committedMin.get(name).exists(b => b > 0 && b < 0.2 && v > 2 * b)
      => name }.sorted
    // FLOOR RE-VALIDATION (r18 verdict #1): the monotone-min fold has
    // no path to CORRECT a floor — one lucky host-day reading becomes
    // a permanent >2× accusation against a healthy query (d2/d24's
    // r16 floors, never reproduced in any idle sweep since). Close
    // that structurally: an entry that reads >2× its committed floor
    // in K consecutive IDLE observations (sweep readings from an
    // idle start, or verified-idle re-measures) with NO source change
    // in between is re-floored to the MEDIAN of those readings, with
    // a floor_note recording the old floor and the evidence. State =
    // BENCH_REVALIDATE.json: per-entry consecutive readings plus a
    // source-tree content hash that resets every counter on any code
    // change (a fresh floor must be re-earned against fresh code).
    val srcHash: String = try {
      val md = java.security.MessageDigest.getInstance("MD5")
      val it = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try {
        import scala.jdk.CollectionConverters._
        it.iterator().asScala
          .filter(p => java.nio.file.Files.isRegularFile(p))
          .toSeq.sortBy(_.toString).foreach { p =>
            md.update(p.toString.getBytes("UTF-8"))
            md.update(java.nio.file.Files.readAllBytes(p))
          }
      } finally it.close()
      md.digest().map("%02x".format(_)).mkString
    } catch { case _: Throwable => "" }
    val revalK = sys.env.get("SPARK_GRAFT_REVALIDATE_K").map(_.toInt).getOrElse(3)
    val prevReval: Map[String, Seq[Double]] = {
      val txt = try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("BENCH_REVALIDATE.json")), "UTF-8")
      catch { case _: Throwable => "" }
      val prevHash = "\"src_hash\"\\s*:\\s*\"([^\"]*)\"".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
      if (prevHash.isEmpty || prevHash != srcHash) Map.empty
      else "\"([A-Za-z0-9_]+)\"\\s*:\\s*\\[([^\\]]*)\\]".r.findAllMatchIn(txt)
        .map(m => m.group(1) ->
          m.group(2).split(',').toSeq.filter(_.nonEmpty).map(_.trim.toDouble))
        .toMap
    }
    // this run's idle evidence: sweep results when the START was idle,
    // overlaid by any verified-idle re-measures (the fresher reading)
    val idleObs: Map[String, Double] =
      (if (loadOkToFold) results.filter(_._2 >= 0).toMap
       else Map.empty[String, Double]) ++
      (if (remeasureLoadOk) remeasured.filter(_._2 >= 0)
       else Map.empty[String, Double])
    val revalState = scala.collection.mutable.Map[String, Seq[Double]]() ++ prevReval
    var refloored = Map.empty[String, (Double, String)]
    if (idleObs.nonEmpty && srcHash.nonEmpty) {
      committedMin.foreach { case (name, floor) =>
        idleObs.get(name).foreach { r =>
          if (floor > 0 && r > 2 * floor) {
            val hist = prevReval.getOrElse(name, Nil) :+ r
            if (hist.size >= revalK) {
              val med = hist.sorted.apply(hist.size / 2)
              refloored += name -> (med -> (
                f"auto-revalidated: floor $floor%.3f unmet in ${hist.size} " +
                  f"consecutive idle readings (${hist.map(v => f"$v%.2f").mkString("/")}) " +
                  f"with no src change; re-set to median $med%.3f"))
              revalState.remove(name)
            } else revalState(name) = hist
          } else revalState.remove(name)
        }
      }
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_REVALIDATE.json"),
        (s"""{"src_hash":"$srcHash","note":"floor re-validation state: consecutive idle >2x-of-floor readings per entry (K=$revalK re-floors to median + floor_note); counters reset on any src/main/scala change","entries":{""" +
          revalState.toSeq.sortBy(_._1).map { case (k, vs) =>
            "\"" + k + "\":[" + vs.map(v => f"$v%.3f").mkString(",") + "]"
          }.mkString(",") + "}}\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    }
    // The harness keeps only the tail of stdout (~2000 chars) — an
    // 80-query map at full double precision overflows that window and
    // the JSON line arrives truncated (unparseable). Emit centisecond
    // precision (far below host noise), and if the line still wouldn't
    // fit, drop the fastest queries — reporting how many and their
    // summed time — until it does. Failures (-1) are never dropped.
    def fmt(v: Double) = f"$v%.2f"
    // didFold reports what ACTUALLY happened to BENCH_FULL — set true
    // only after a successful fold write; the load guard alone (an
    // sf-mismatched run, a failed write) must not claim floors landed
    var didFold = false
    // the remeasure disposition travels in BOTH outputs: the printed
    // line (what the driver snapshots as BENCH_r{N}) and BENCH_LAST —
    // a contaminated reading without its idle re-measure next to it
    // is exactly the deferred-disposition failure mode this closes.
    // The printed copy is TRIMMABLE like the query map (worst ratios
    // kept, `remeasured_omitted` counts the rest): on a heavily
    // contaminated sweep a full 40-entry map plus the suspect list
    // would push the line past the harness's ~2000-char stdout tail
    // and ship it truncated mid-JSON — in exactly the scenario this
    // feature exists for. BENCH_LAST.json always carries the full map.
    val rmBySeverity = remeasured.toSeq
      .sortBy { case (k, _) => -(resultMap.getOrElse(k, 0.0) /
        committedMin.getOrElse(k, 1.0)) }
    def remeasureField(rmKeep: Seq[(String, Double)]) = {
      val omitted = remeasured.size - rmKeep.size
      if (remeasured.isEmpty && remeasureCapped == 0) ""
      else {
        val m = rmKeep.sortBy(_._1)
          .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
          .mkString("{", ",", "}")
        val om = if (omitted > 0) s""","remeasured_omitted":$omitted""" else ""
        val cap = if (remeasureCapped > 0)
          s""","remeasure_capped":$remeasureCapped""" else ""
        s""","remeasure_load":${fmt(remeasureLoad)},"remeasured":$m$om$cap"""
      }
    }
    def line(keep: Seq[(String, Double)], omitted: Seq[(String, Double)],
        rmKeep: Seq[(String, Double)]) = {
      val m = keep.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + fmt(v) }
        .mkString("{", ",", "}")
      val om = if (omitted.isEmpty) ""
        else s""","omitted":${omitted.size},"omitted_sec":${fmt(omitted.map(_._2).sum)}"""
      val sus = suspect.map("\"" + _ + "\"").mkString("[", ",", "]")
      val fl = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val ne = noiseExempt.map("\"" + _ + "\"").mkString("[", ",", "]")
      val rf = if (refloored.isEmpty) ""
        else refloored.keys.toSeq.sorted.map("\"" + _ + "\"")
          .mkString(""","refloored":[""", ",", "]")
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":2,""" +
        s""""adjusted_total":${fmt(adjustedTotal)},""" +
        s""""warm_ok":$warmOk,"warm_sec":${fmt(warmSec)},"load_avg":${fmt(loadAvg)},""" +
        s""""start_load":${fmt(startLoad)},"folded":$didFold,""" +
        s""""failed":$fl,"suspect":$sus,"noise_exempt":$ne$rf${remeasureField(rmKeep)},""" +
        s""""queries":$m$om,"sf":"$sfDir"}"""
    }
    // drop order: fastest queries first (failures sort as slowest so
    // they stay), then mildest re-measures — both maps shrink until
    // the line fits the harness window
    val bySlow = results.sortBy(r => -(if (r._2 < 0) Double.MaxValue else r._2))
    var keep = results.size
    var rmKeepN = rmBySeverity.size
    while (keep > 1 &&
        line(bySlow.take(keep), bySlow.drop(keep),
          rmBySeverity.take(rmKeepN)).length > 1800)
      keep -= 1
    while (rmKeepN > 0 &&
        line(bySlow.take(keep), bySlow.drop(keep),
          rmBySeverity.take(rmKeepN)).length > 1800)
      rmKeepN -= 1
    // BENCH_FULL.json = explicit minima fold: floor(q) = min(committed
    // floor, this run's green result). min() makes the fold monotone —
    // a contended run can only lower floors it genuinely beat, so the
    // file is safe to auto-commit; the load guard still excludes the
    // SWEEP's numbers on contended starts so a busy-host run can never
    // become a closing artifact (per-query entries NEW to the
    // registry would otherwise enter at contended times and set their
    // first floor too high) — only the verified-idle re-measures from
    // such a run may fold. Failed queries (-1) never fold in. A run
    // at a DIFFERENT sf than the committed baseline (local sf0.001
    // iteration) must not touch the file — its numbers are
    // incomparable and would replace the floors wholesale.
    // "floor_notes" (manual re-set annotations, e.g. h16's r16
    // design-change re-floor) are carried over from the baseline: the
    // r16 close showed the auto-fold erasing a note committed hours
    // earlier. Notes must not contain '}' or escaped quotes.
    // MERGED PER KEY, working file winning (ADVICE r17): a manual
    // re-floor + note edited but NOT YET COMMITTED must survive the
    // very next fold — reading git HEAD first would revert exactly
    // that edit whenever HEAD already carries a floor_notes field.
    // Per-key union (rather than working-file-only) keeps HEAD's notes
    // alive even if a stale/partial working file lost some keys.
    val committedFloorNotes: Map[String, String] = {
      def notes(txt: String): Map[String, String] =
        "\"floor_notes\"\\s*:\\s*(\\{[^}]*\\})".r
          .findFirstMatchIn(txt).map(_.group(1)) match {
          case None => Map.empty
          case Some(obj) =>
            "\"([^\"]+)\"\\s*:\\s*\"([^\"]*)\"".r.findAllMatchIn(obj)
              .map(m => m.group(1) -> m.group(2)).toMap
        }
      val fromGit =
        try {
          val p = new ProcessBuilder("git", "show", "HEAD:BENCH_FULL.json").start()
          val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
          if (p.waitFor() == 0) notes(out) else Map.empty[String, String]
        } catch { case _: Throwable => Map.empty[String, String] }
      val fromFile =
        try notes(new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("BENCH_FULL.json")), "UTF-8"))
        catch { case _: Throwable => Map.empty[String, String] }
      fromGit ++ fromFile // working-file value wins per key
    }
    // fold source: the sweep's green results when the RUN started
    // idle, plus any idle re-measures (taken under verified-ok load
    // even after a contended start) — min-merged where both exist.
    // min() keeps the fold monotone either way.
    val foldSource: Map[String, Double] = {
      val base =
        if (loadOkToFold) results.filter(_._2 >= 0).toMap
        else Map.empty[String, Double]
      val rm =
        if (remeasureLoadOk) remeasured.filter(_._2 >= 0)
        else Map.empty[String, Double]
      (base.keySet ++ rm.keySet).map { q =>
        q -> math.min(base.getOrElse(q, Double.MaxValue),
          rm.getOrElse(q, Double.MaxValue))
      }.toMap
    }
    if (foldSource.nonEmpty && committedBaseline.forall(_._1 == sfDir)) try {
      val green = foldSource
      // re-validated entries OVERRIDE the monotone min — that is the
      // entire point of re-validation: the median idle reading may be
      // HIGHER than a stale lucky floor. From the next commit on, the
      // min fold resumes from the re-validated level.
      val merged = (committedMin.keySet ++ green.keySet).toSeq.sorted.map { q =>
        q -> (refloored.get(q).map(_._1).getOrElse(
          (committedMin.get(q), green.get(q)) match {
            case (Some(b), Some(v)) => math.min(b, v)
            case (Some(b), None)    => b
            case (None, Some(v))    => v
            case (None, None)       => -1.0 // unreachable
          }))
      }
      val mergedTotal = merged.map(_._2).sum
      val allNotes = committedFloorNotes ++
        refloored.map { case (k, (_, n)) => k -> n }
      val notesField = if (allNotes.isEmpty) ""
        else allNotes.toSeq.sorted
          .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
          .mkString("\"floor_notes\":{", ",", "},")
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        (merged.map { case (k, v) => s"\"$k\":$v" }
          .mkString(
            s"""{"total":$mergedTotal,"sf":"$sfDir",""" +
              """"note":"baseline: per-query green minima, auto-folded by Bench (raw runs in BENCH_LAST.json)",""" +
              notesField +
              """"queries":{""", ",", "}}\n"))
          .getBytes("UTF-8"))
      didFold = true
    } catch { case _: Throwable => () }
    // full-precision per-query dump for offline analysis (cwd = repo);
    // both raw runs preserved so snapshots are self-describing —
    // written AFTER the fold so its `folded` field is the truth.
    // Raw runs go to BENCH_LAST.json — NEVER to BENCH_FULL.json: the
    // committed BENCH_FULL is the per-query green-minima baseline the
    // 2×-total gate and the 3× suspect detector key off, and a raw
    // (possibly contended) run committed over it would silently raise
    // every floor (this happened in round 12: a `commit -a` replaced
    // the 75.02 s minima file with an 87.05 s contended run).
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_LAST.json"),
      (results.sortBy(_._1).map { case (k, v) => s"\"$k\":$v" }
        .mkString(
          s"""{"total":$total,"adjusted_total":$adjustedTotal,""" +
            s""""sf":"$sfDir","cpus":$cpus,"runs":2,""" +
            s""""warm_ok":$warmOk,"warm_sec":$warmSec,"load_avg":$loadAvg,""" +
            s""""start_load":$startLoad,"folded":$didFold,""" +
            s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
            s""""suspect":${suspect.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
            s""""noise_exempt":${noiseExempt.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
            s""""refloored":${refloored.keys.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
            s""""remeasure_load":$remeasureLoad,"remeasure_capped":$remeasureCapped,""" +
            s""""remeasured":${
              remeasured.toSeq.sorted.map { case (k, v) => s"\"$k\":$v" }
                .mkString("{", ",", "}")},""" +
            """"queries":{""", ",", "},") +
        runs.sortBy(_._1).map { case (k, r1, r2) => s"""\"$k\":[$r1,$r2]""" }
          .mkString(""""raw_runs":{""", ",", "}}\n"))
        .getBytes("UTF-8"))
    catch { case _: Throwable => () }
    println(line(bySlow.take(keep), bySlow.drop(keep),
      rmBySeverity.take(rmKeepN)))
    spark.stop()
  }
}

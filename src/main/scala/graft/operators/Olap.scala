package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reusable OLAP operator builders beyond plain groupBy — the
  * composition layer a user of the engine calls directly.
  */
object Olap {

  /** As-of join: for each left row, the single most recent right row
    * with `rightTime <= leftTime` on matching keys (left outer: left
    * rows with no prior right row survive with nulls).
    *
    * Spark lacks a native as-of join; this composes an equi-join on
    * the key (so the range condition never becomes a cartesian
    * explosion across keys) with a per-left-row top-1 window. Ties on
    * `rightTime` break on `tieBreak` descending for determinism.
    *
    * Scale: the equi-join shuffles both sides on the key once; the
    * window re-uses that partitioning (partitionBy leftId ⊇ key) — at
    * 100 TB, bucket both tables on the key to skip the shuffle
    * entirely (see [[graft.sources.Sources.writeBucketed]]).
    */
  def asofJoin(left: DataFrame, right: DataFrame, leftKey: String,
      rightKey: String, leftTime: String, rightTime: String,
      leftId: String, tieBreak: String): DataFrame = {
    val joined = left.join(right,
      left(leftKey) === right(rightKey) && right(rightTime) <= left(leftTime),
      "left")
    val w = Window.partitionBy(left(leftId))
      .orderBy(right(rightTime).desc_nulls_last, right(tieBreak).desc_nulls_last)
    joined
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Skew-mitigated join: when `bigKey` has hot keys, a plain shuffle
    * join puts an entire hot key in one task. Salting fans each big-side
    * row into one of `salts` sub-partitions (deterministic hash of
    * `saltSource`) and replicates the small side across all salts —
    * hot keys split `salts` ways at the cost of a small-side
    * replication. AQE's skew-join handles moderate skew automatically;
    * this is the explicit tool for extreme/known skew.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, bigKey: String,
      smallKey: String, salts: Int, saltSource: Column): DataFrame = {
    val sBig = big.withColumn("__salt_b",
      pmod(xxhash64(saltSource), lit(salts.toLong)).cast("int"))
    val sSmall = small.withColumn("__salt_s",
      explode(sequence(lit(0), lit(salts - 1))))
    sBig.join(sSmall,
        col(bigKey) === col(smallKey) && col("__salt_b") === col("__salt_s"))
      .drop("__salt_b", "__salt_s")
  }

  /** Top-k per group without a global sort: rank inside each partition
    * key and keep k.
    */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[String],
      orderCol: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCol)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") <= k).drop("__rn")
  }

  /** TWO-PASS dynamic pivot: the pivot-column value domain is
    * discovered from the data (a pruned single-column distinct —
    * domain-sized BY DEFINITION, since a pivot's output schema must
    * fit a relation, so the collect is dim-sized even over 100 TB of
    * facts), sorted for a deterministic schema, then pivoted exactly
    * like the fixed-values form. `fill` replaces the nulls of absent
    * (group, value) cells.
    */
  def dynamicPivot(df: DataFrame, groupCols: Seq[String], pivotCol: String,
      agg: Column, fill: Option[Column] = None): DataFrame = {
    // keep the NATURAL values for the pivot match (a string-coerced
    // literal would mis-compare against non-string pivot columns);
    // the rendered form orders the schema and names the fill columns
    val vals = df.select(pivotCol).distinct().collect()
      .map(_.get(0)).filter(_ != null).sortBy(_.toString).toSeq
    val pivoted = df.groupBy(groupCols.map(col): _*).pivot(pivotCol, vals).agg(agg)
    fill match {
      case Some(f) =>
        // pivot column NAMES come from data values: they can contain
        // backticks (breaking a rendered `name` reference) or collide
        // with a group column (making name-based col() ambiguous), so
        // reference the output attributes POSITIONALLY — the pivot
        // contract puts group columns first, then one column per value
        val out = org.apache.spark.sql.GraftColumnBridge
          .analyzedPlan(pivoted).output
        pivoted.select(out.zipWithIndex.map { case (a, i) =>
          val c = org.apache.spark.sql.GraftColumnBridge.column(a)
          if (i < groupCols.length) c else coalesce(c, f).as(a.name)
        }: _*)
      case None => pivoted
    }
  }

  /** EXACT per-group median at 100 TB — q16's range-partitioned rank
    * shape, factored for reuse (robust statistics want medians as a
    * building block). Neither of Spark's own routes survives scale:
    * `percentile()` materializes a per-group value→count map and a
    * whole-group window sort puts each group in one task. Instead:
    * (1) an integer-bucket histogram (domain-bounded output) over one
    * distributed aggregate; (2) histogram-sized windows find the ≤2
    * hot buckets holding ranks floor/ceil((n−1)/2) and their rank
    * base; (3) only hot-bucket rows get a within-bucket row_number —
    * a partition is one integer bucket's ties, never a group.
    * Interpolation lo + (hi−lo)·frac is quantile_cont's formula
    * (cross-engine parity proven by q16's hash-green oracle).
    *
    * Returns one row per group: (`groupCol`, `med`). Nulls in
    * `valueCol` are ignored (percentile semantics); empty groups
    * vanish. Median is NOT rounded here — callers derive (MAD,
    * z-scores) from it and round at emit.
    */
  def exactMedianByGroup(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame =
    exactPercentilesByGroup(df, groupCol, valueCol, Seq(0.5))
      .select(col(groupCol), element_at(col("pcts"), 1).as("med"))

  /** Per-group ordinary least squares (y = slope·x + intercept) from
    * SUFFICIENT STATISTICS — the scale-correct regression shape: one
    * distributed aggregate computes (n, Σx, Σy, Σxy, Σx², Σy²) with
    * map-side combine, and the fit is closed-form arithmetic on the
    * six numbers. No per-group vector materialization, no solver
    * iteration, no driver-side math — trend detection over 100 TB of
    * facts costs exactly one group-keyed exchange.
    *
    * Degenerate groups (all x equal → zero x-variance) emit null
    * slope/intercept/r2 rather than ±Inf; r2 is additionally null
    * when y has zero variance (a perfectly flat series has no
    * explainable variance). Callers round at emit — the raw doubles
    * feed composition (Zipf fits, trend z-scores).
    *
    * Numerical note: callers should CENTER x near the data (e.g. days
    * since the corpus epoch, not days since 1970) — the closed form
    * subtracts same-magnitude products, and a large x offset burns
    * precision in n·Σx² − (Σx)².
    */
  def olsByGroup(df: DataFrame, groupCols: Seq[String], xCol: Column,
      yCol: Column): DataFrame = {
    val g = df
      .select(groupCols.map(col) ++ Seq(
        xCol.cast("double").as("__x"), yCol.cast("double").as("__y")): _*)
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).cast("double").as("__n"),
        sum("__x").as("__sx"), sum("__y").as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(col("__y") * col("__y")).as("__syy"))
    // the oracle re-derives these with the SAME parenthesization —
    // IEEE doubles make identical expression trees over (near-)equal
    // sums land inside the checker's tolerance
    val dx = col("__n") * col("__sxy") - col("__sx") * col("__sy")
    val vx = col("__n") * col("__sxx") - col("__sx") * col("__sx")
    val vy = col("__n") * col("__syy") - col("__sy") * col("__sy")
    g.withColumn("slope", when(vx =!= 0.0, dx / vx))
      .withColumn("intercept",
        when(vx =!= 0.0, (col("__sy") - (dx / vx) * col("__sx")) / col("__n")))
      .withColumn("r2", when(vx =!= 0.0 && vy =!= 0.0, (dx * dx) / (vx * vy)))
      .select(groupCols.map(col) ++ Seq(col("__n").cast("long").as("n"),
        col("slope"), col("intercept"), col("r2")): _*)
  }

  /** EXACT per-group percentiles at arbitrary target fractions — the
    * generalized form of [[exactMedianByGroup]] (one histogram pass
    * locates ALL targets' hot buckets; the within-bucket rank runs
    * once over their union). Returns one row per group:
    * (`groupCol`, `pcts`) with `pcts(i)` = the `ps(i)` percentile,
    * interpolated as quantile_cont does. Used where a whole-relation
    * sort or a per-group value map would break at scale: quantile
    * thresholds for scoring (q50's RFM quintile cuts), robust stats,
    * SLA percentiles.
    */
  def exactPercentilesByGroup(df: DataFrame, groupCol: String,
      valueCol: String, ps: Seq[Double]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"target fractions must lie in [0, 1]: $ps")
    val names = ps.indices.map(i => s"__t$i")
    val bucketed = df.filter(col(valueCol).isNotNull)
      .select(col(groupCol), col(valueCol).as("__v"))
      .withColumn("__bucket", floor(col("__v")).cast("long"))
    val hist = bucketed.groupBy(groupCol, "__bucket")
      .agg(count(lit(1)).as("__bn"))
    val wCum = Window.partitionBy(groupCol).orderBy("__bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(groupCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = names.zip(ps).foldLeft(
        hist.withColumn("__cum", coalesce(sum("__bn").over(wCum), lit(0L)))
          .withColumn("__n", sum("__bn").over(wAll))) {
      case (d, (nm, p)) =>
        d.withColumn(s"${nm}_pos", (col("__n") - 1) * lit(p))
          .withColumn(s"${nm}_lo", floor(col(s"${nm}_pos")))
          .withColumn(s"${nm}_hi", ceil(col(s"${nm}_pos")))
    }
    def inB(c: String) =
      col(c) >= col("__cum") && col(c) < col("__cum") + col("__bn")
    val hot = cum.filter(names.map(nm =>
      inB(s"${nm}_lo") || inB(s"${nm}_hi")).reduce(_ || _))
      .drop("__bn", "__n")
    val wLocal = Window.partitionBy(groupCol, "__bucket").orderBy("__v")
    val pcols = names.map { nm =>
      val loV = max(when(col("__rn") === col(s"${nm}_lo"), col("__v")))
      val hiV = max(when(col("__rn") === col(s"${nm}_hi"), col("__v")))
      loV + (hiV - loV) * max(col(s"${nm}_pos") - col(s"${nm}_lo"))
    }
    bucketed.join(broadcast(hot), Seq(groupCol, "__bucket"))
      .withColumn("__rn",
        col("__cum") + row_number().over(wLocal).cast("long") - 1)
      .filter(names.map(nm =>
        col("__rn") === col(s"${nm}_lo") || col("__rn") === col(s"${nm}_hi"))
        .reduce(_ || _))
      .groupBy(groupCol)
      .agg(array(pcols: _*).as("pcts"))
  }

  /** 2-D SKYLINE (Pareto frontier) under (minimize `xCol`, maximize
    * `yCol`): the rows no other row STRICTLY dominates (x' ≤ x, y' ≥ y,
    * one strict). The naive formulation is a quadratic self-join; this
    * is the scalable two-phase shape:
    *
    *  1. GRID PRUNE — bucket x into `buckets` fixed-width cells (the
    *     global min/max ride a 1-row broadcast), take each bucket's
    *     max y, and prefix-max it over strictly-earlier buckets (a
    *     ≤ `buckets`-row frame, broadcast back). A point whose y is
    *     ≤ an earlier bucket's max is dominated by a STRICTLY cheaper
    *     point (smaller bucket index ⇒ strictly smaller x) and drops.
    *     One fact-sized filter; no joins between fact-sized frames.
    *  2. EXACT SWEEP over the survivors: per distinct x the max y
    *     (same-x dominance), prefix-maxed over strictly smaller x.
    *     Dominance is transitive, so every dominated point is
    *     dominated by some skyline point and skyline points are never
    *     pruned — skyline(survivors) = skyline(all). The sweep's
    *     global window runs on the PRUNED distinct-x frame (tiny:
    *     only x-values that beat every cheaper bucket remain).
    *
    * Duplicate (x, y) points all survive (no strict dominator),
    * matching the NOT EXISTS oracle exactly.
    */
  def skyline2d(points: DataFrame, idCol: String, xCol: String,
      yCol: String, buckets: Int = 256): DataFrame = {
    require(buckets >= 1, s"buckets must be positive: $buckets")
    // entity-sized and read by four consumers (global stats, bucket
    // pass, survivor filter, sweep join) — persist once, q46's
    // inline-cache convention, or the upstream fact aggregate re-runs
    // per consumer
    val pts = graft.Artifacts.pin(
      points.select(col(idCol), col(xCol).cast("double").as("__x"),
        col(yCol).as("__y")))
    val stats = pts.agg(min("__x").as("__xmin"), max("__x").as("__xmax"))
    val b = pts.crossJoin(broadcast(stats))
      .withColumn("__b",
        when(col("__xmax") === col("__xmin"), lit(0L))
          .otherwise(least(floor((col("__x") - col("__xmin")) /
            ((col("__xmax") - col("__xmin")) / buckets)).cast("long"),
            lit(buckets - 1L))))
      .drop("__xmin", "__xmax")
    val bstats = b.groupBy("__b").agg(max("__y").as("__bymax"))
      .withColumn("__ylt", max("__bymax").over(Window.orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__b"), col("__ylt"))
    val survivors = b.join(broadcast(bstats), Seq("__b"))
      .filter(col("__ylt").isNull || col("__ylt") < col("__y"))
    val xg = survivors.groupBy("__x").agg(max("__y").as("__yeq"))
      .withColumn("__plt", max("__yeq").over(Window.orderBy("__x")
        .rowsBetween(Window.unboundedPreceding, -1)))
    survivors.join(xg, Seq("__x"))
      .filter(col("__y") === col("__yeq") &&
        (col("__plt").isNull || col("__plt") < col("__y")))
      .select(col(idCol), col("__x").as(xCol), col("__y").as(yCol))
  }

  /** CDC APPLY (q65): materialize a base snapshot plus a sequenced
    * change stream into the final table. `changes` carries
    * (`seq`, `op` ∈ I/U/D, the key, and one `c_<col>` per base payload
    * column); the LAST change per key wins (row_number over seq desc),
    * a trailing delete erases the row, and keys with no change keep
    * their base row. One delta-sized window + one key-grain full-outer
    * join — the base never re-shuffles per change.
    */
  def cdcApply(base: DataFrame, changes: DataFrame, key: String): DataFrame = {
    val payload = base.columns.filterNot(_ == key)
    val last = changes.withColumn("__rn", row_number().over(
        Window.partitionBy(key).orderBy(col("seq").desc)))
      .filter(col("__rn") === 1).drop("__rn", "seq")
    base.join(last, Seq(key), "full_outer")
      .filter(col("op").isNull || col("op") =!= "D")
      .select(col(key) +: payload.map(c =>
        when(col("op").isNotNull, col(s"c_$c")).otherwise(col(c)).as(c)): _*)
  }

  /** SCALABLE GLOBAL RANK + PREFIX SUM (r22 window audit): the
    * entity-grain global rank/cumsum queries (q64/q71/q78) ran their
    * total-order windows UNPARTITIONED — Spark funnels the whole
    * entity frame into one task, the classic 100 TB scale-killer the
    * WindowExec warning names. This is the standard two-pass
    * decomposition instead: range-repartition by the order key
    * (parallelism-adaptive partition count), per-partition counts /
    * sums roll up to per-partition OFFSETS (a window over the
    * partition-COUNT-grain stats frame — ≤ `defaultParallelism` rows,
    * bounded by cluster size, never by data), and each partition
    * ranks/prefix-sums locally with the offset added. Exactness:
    * `order` must be a TOTAL order (unique tie column last) — then
    * ranks are the same integers the single-task window produced, on
    * any partitioning. The range-partitioned frame is materialized
    * once (`localCheckpoint`) WITH its partition ids: both branches
    * read that one frame, so the offsets always describe the
    * partitions they rank. Two range exchanges would not: each
    * `RangePartitioner` samples its own bounds, so without exchange
    * reuse a row could land in one `__pid` for the stats and another
    * for the ranks (wrong ranks, even extra deciles).
    *
    * Returns (ranked frame = input columns + `__rank` [+ `__cum` when
    * `sumCol` is set], the checkpointed entity frame for totals).
    */
  private[graft] def rangedGlobal(byEntity: DataFrame,
      order: Seq[Column], sumCol: Option[Column])
      : (DataFrame, DataFrame) = {
    val spark = byEntity.sparkSession
    val parts = math.max(1, spark.sparkContext.defaultParallelism)
    // LAZY checkpoint: no dedicated job; the first action that reads
    // it materializes it, and every later read sees the same rows in
    // the same partitions
    val ranged = byEntity.repartitionByRange(parts, order: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val statAggs = Seq(count(lit(1)).as("__n")) ++
      sumCol.map(sc => sum(sc).as("__s"))
    val stats = ranged.groupBy("__pid")
      .agg(statAggs.head, statAggs.tail: _*)
    val wOff = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs0 = stats.withColumn("__offn",
      coalesce(sum("__n").over(wOff), lit(0L)))
    val offs = (if (sumCol.isEmpty) offs0
      else offs0.withColumn("__offs",
        coalesce(sum("__s").over(wOff), lit(0L).cast(offs0.schema("__s").dataType))))
      .drop("__n", "__s")
    val wLoc = Window.partitionBy("__pid").orderBy(order: _*)
    val wLocCum = wLoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked0 = ranged.join(broadcast(offs), Seq("__pid"))
      .withColumn("__rank",
        (col("__offn") + row_number().over(wLoc)).cast("long"))
    val ranked = sumCol match {
      case None => ranked0.drop("__pid", "__offn")
      case Some(sc) => ranked0
        .withColumn("__cum", col("__offs") + sum(sc).over(wLocCum))
        .drop("__pid", "__offn", "__offs")
    }
    (ranked, ranged)
  }

  /** Spark `ntile(k)` reproduced from a global 1-based `__rank` and
    * the total row count `n` — bit-identical bucket assignment
    * (first n%k buckets get ⌈n/k⌉ rows, the rest ⌊n/k⌋), expressed in
    * integral arithmetic so [[rangedGlobal]]'s scalable rank can
    * replace the unpartitioned ntile window.
    */
  private def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    // integral division via floor(double): exact while operands stay
    // below 2^53 — entity counts, so ~6 orders of magnitude of
    // headroom at 100 TB. rem/thr stay in long arithmetic. The
    // `otherwise` branch divides by bs and is only reachable when
    // bs ≥ 1 (bs = 0 ⇒ thr = n ⇒ every rank takes the first branch).
    def idiv(a: Column, b: Column): Column =
      floor(a.cast("double") / b.cast("double")).cast("long")
    val bs = idiv(n, lit(k.toLong))
    val rem = n % lit(k.toLong)
    val thr = rem * (bs + lit(1L))
    when(rank <= thr, idiv(rank - lit(1L), bs + lit(1L)) + lit(1L))
      .otherwise(rem + idiv(rank - lit(1L) - thr, bs) + lit(1L))
  }

  /** ABC / Pareto classification summary (q64): entities ranked by
    * `revCol` desc (ties by `idCol` asc), classified by 9-dp-rounded
    * cumulative revenue share — A ≤ `aCut`, B ≤ `bCut`, C the rest —
    * and summarized per class. The cumulative fold runs through
    * [[rangedGlobal]] (r22): entity-grain, but no longer single-task.
    * Every sum runs over `revCol` cast to DECIMAL(38,6): a double sum
    * adds in shuffle-arrival order, so the share's low bits (and a
    * class at the cut) could change between runs. Scale 6 loses no
    * digit under Spark's decimal sum/add precision rules; the share
    * division and the outputs go back to double.
    */
  def abcSummary(byEntity: DataFrame, idCol: String, revCol: String,
      aCut: Double = 0.80, bCut: Double = 0.95): DataFrame = {
    val exact = byEntity.withColumn("__rev", col(revCol).cast("decimal(38,6)"))
    val (ranked, c) = rangedGlobal(exact,
      Seq(col(revCol).desc, col(idCol)), Some(col("__rev")))
    val totAll = c.agg(sum("__rev").as("__totsh"))
    val classed = ranked
      .crossJoin(broadcast(totAll))
      .withColumn("__share", round(
        col("__cum").cast("double") / col("__totsh").cast("double"), 9))
      .withColumn("abc_class",
        when(col("__share") <= aCut, lit("A"))
          .when(col("__share") <= bCut, lit("B")).otherwise(lit("C")))
    def revenue = round(sum("__rev"), 2).cast("double")
    val tot = classed.agg(revenue.as("__tot"))
    classed.groupBy("abc_class")
      .agg(count(lit(1)).as("n_parts"), revenue.as("revenue"))
      .crossJoin(broadcast(tot))
      .select(col("abc_class"), col("n_parts"), col("revenue"),
        round(col("revenue") / col("__tot"), 6).as("pct"))
  }

  /** Pairwise Pearson correlation matrix over integer micro-unit
    * measure columns, per group — ONE map-side-combinable aggregate
    * carrying DECIMAL(38,0) sufficient statistics (order-free and
    * overflow-proof where Long partial sums would wrap), closed-form
    * double finalization afterwards. Emits one row per group with a
    * `r_<x>_<y>` column per ordered pair and `n_rows`; degenerate
    * pairs (zero variance) emit null. `vars` columns must already be
    * exact Longs (quantize first — determinism depends on it).
    */
  def pearsonMatrix(df: DataFrame, groupCols: Seq[String],
      vars: Seq[String]): DataFrame = {
    val moments =
      vars.map(v => sum(col(v).cast("decimal(38,0)")).as(s"s_$v")) ++
        (for { i <- vars.indices; j <- i until vars.length } yield
          sum((col(vars(i)) * col(vars(j))).cast("decimal(38,0)"))
            .as(s"s_${vars(i)}_${vars(j)}"))
    val g = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), moments: _*)
    def r(x: String, y: String): Column = {
      val nd = col("n_rows").cast("double")
      val sx = col(s"s_$x").cast("double")
      val sy = col(s"s_$y").cast("double")
      val vx = nd * col(s"s_${x}_$x").cast("double") - sx * sx
      val vy = nd * col(s"s_${y}_$y").cast("double") - sy * sy
      when(vx * vy > 0.0,
        round((nd * col(s"s_${x}_$y").cast("double") - sx * sy)
          / sqrt(vx * vy), 6))
    }
    val pairs = for { i <- vars.indices; j <- (i + 1) until vars.length }
      yield r(vars(i), vars(j)).as(s"r_${vars(i)}_${vars(j)}")
    g.select(groupCols.map(col) ++ (col("n_rows") +: pairs): _*)
  }

  /** Gini coefficient of `centsCol` (exact integer units) per group:
    * per-entity ranks from one group-partitioned window over the
    * ENTITY-grain frame, then the closed form
    * G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ) on DECIMAL(38,0) sums.
    * `idCol` breaks rank ties deterministically.
    */
  def giniByGroup(df: DataFrame, groupCol: String, idCol: String,
      centsCol: String): DataFrame = {
    val ranked = df.withColumn("__i",
      row_number().over(Window.partitionBy(groupCol)
        .orderBy(col(centsCol), col(idCol))).cast("long"))
    val g = ranked.groupBy(groupCol)
      .agg(count(lit(1)).as("n_entities"),
        sum(col(centsCol).cast("decimal(38,0)")).as("__s"),
        sum((col("__i") * col(centsCol)).cast("decimal(38,0)")).as("__si"))
    val nd = col("n_entities").cast("double")
    val sd = col("__s").cast("double")
    val sid = col("__si").cast("double")
    g.select(col(groupCol), col("n_entities"),
      round(col("__s").cast("double") / 100.0, 2).as("total_revenue"),
      round((lit(2.0) * sid - (nd + 1.0) * sd) / (nd * sd), 6).as("gini"))
  }

  /** Chi-square independence cells: expected counts and per-cell
    * contributions for an observed contingency table. Window sums run
    * over the CELL frame (|rows|·|cols| — dimension-sized at any fact
    * scale); all inputs to the double arithmetic are exact integers.
    */
  def chi2Cells(cells: DataFrame, rowCol: String, colCol: String,
      obsCol: String): DataFrame = {
    val e = sum(obsCol).over(Window.partitionBy(rowCol)).cast("double") *
      sum(obsCol).over(Window.partitionBy(colCol)).cast("double") /
      sum(obsCol).over(Window.partitionBy()).cast("double")
    cells
      .withColumn("expected", e)
      .withColumn("__d", col(obsCol).cast("double") - col("expected"))
      .select(col(rowCol), col(colCol), col(obsCol),
        round(col("expected"), 6).as("expected"),
        round(col("__d") * col("__d") / col("expected"), 6)
          .as("contribution"))
  }

  /** DECILE LIFT / GAINS TABLE: entities ranked into ntile(10)
    * deciles by an exact integer-cent measure; per decile the revenue
    * share, cumulative share, and lift over a uniform 10% slice. The
    * ntile window carries a TOTAL order (cents desc, id) so the split
    * is deterministic in both engines; shares divide DECIMAL(38,0)
    * sums; the window runs at ENTITY grain (dimension-sized — facts
    * pre-aggregate first, the q64 global-window convention).
    */
  /** Global ntile(k) under a total order, computed scalably: the
    * [[rangedGlobal]] two-pass rank + [[ntileFromRank]]'s exact Spark
    * bucket arithmetic — bit-identical to
    * `ntile(k).over(Window.orderBy(order))` without the single-task
    * window (r22 window audit; used by q71/q78).
    */
  private[graft] def globalNtile(byEntity: DataFrame, order: Seq[Column],
      k: Int, out: String): DataFrame = {
    val (ranked, c) = rangedGlobal(byEntity, order, None)
    val nTot = c.agg(count(lit(1)).as("__nn"))
    ranked.crossJoin(broadcast(nTot))
      .withColumn(out, ntileFromRank(col("__rank"), col("__nn"), k))
      .drop("__rank", "__nn")
  }

  def decileLift(byEntity: DataFrame, idCol: String,
      centsCol: String): DataFrame = {
    val ranked = globalNtile(byEntity,
      Seq(col(centsCol).desc, col(idCol)), 10, "decile")
    val g = ranked.groupBy("decile")
      .agg(count(lit(1)).as("n_customers"),
        sum(col(centsCol).cast("decimal(38,0)")).as("__c"))
    val tot = g.agg(sum("__c").as("__t"))
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.crossJoin(broadcast(tot))
      .withColumn("__share",
        col("__c").cast("double") / col("__t").cast("double"))
      .withColumn("__cum", sum(col("__c")).over(wCum).cast("double")
        / col("__t").cast("double"))
      .select(col("decile"), col("n_customers"),
        round(col("__c").cast("double") / 100.0, 2).as("revenue"),
        round(col("__share"), 6).as("share"),
        round(col("__cum"), 6).as("cum_share"),
        round(col("__share") * 10.0, 6).as("lift"))
  }

  /** Per-JOIN-KEY SKEW PROFILE: the pre-shuffle planning readout a
    * 100 TB engine consults before picking salting / AQE skew
    * thresholds — for each candidate key, the key-count distribution
    * (cardinality, heaviest key, exact p50/p99 per-key row counts,
    * max/mean skew ratio). One key-grain aggregate per key; the
    * percentiles ride [[exactPercentilesByGroup]]'s histogram pass
    * over the KEY-grain counts (never the facts). All ratios divide
    * exact integers.
    */
  def keySkewProfile(df: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "at least one key column")
    val profiles = keys.map { k =>
      val counts = df.groupBy(col(k).as("__key"))
        .agg(count(lit(1)).as("__cnt"))
        .withColumn("__grp", lit(k))
      val stats = counts.groupBy("__grp").agg(
        count(lit(1)).as("n_keys"),
        sum("__cnt").as("total_rows"),
        max("__cnt").as("max_per_key"))
      stats.join(
        exactPercentilesByGroup(counts, "__grp", "__cnt", Seq(0.5, 0.99)),
        Seq("__grp"))
    }
    profiles.reduce(_.unionByName(_))
      .select(col("__grp").as("join_key"), col("n_keys"), col("total_rows"),
        col("max_per_key"),
        round(col("max_per_key").cast("double") /
          col("total_rows").cast("double"), 6).as("top1_share"),
        round(col("pcts")(0), 6).as("p50_per_key"),
        round(col("pcts")(1), 6).as("p99_per_key"),
        round(col("max_per_key").cast("double") /
          (col("total_rows").cast("double") / col("n_keys").cast("double")),
          6).as("skew_ratio"))
  }

  /** Benford first-digit profile of a positive exact-integer amount
    * column: digit shares vs log₁₀(1+1/d). The leading digit is
    * integer string arithmetic (no float log in the digit path).
    */
  def benfordProfile(df: DataFrame, centsCol: String): DataFrame = {
    val digits = df
      .select(substring(col(centsCol).cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n_rows"))
    digits
      .withColumn("share", col("n_rows").cast("double") /
        sum("n_rows").over(Window.partitionBy()).cast("double"))
      .withColumn("benford",
        log10(lit(1.0) + lit(1.0) / col("digit").cast("double")))
      .select(col("digit"), col("n_rows"),
        round(col("share"), 6).as("share"),
        round(col("benford"), 6).as("benford"),
        round(col("share") - col("benford"), 6).as("delta"))
  }

  /** PRICE–VOLUME–MIX decomposition (the period-over-period revenue
    * waterfall): per group, ΔRev between two periods split into
    * price effect (Δprice · q₀), volume effect (Δqty · p₀) and the
    * joint/mix term (Δprice · Δqty) — the three sum to ΔRev by
    * construction. Sufficient statistics are exact integers (cents,
    * unit counts) from ONE conditionally-aggregated fact pass; the
    * effects are doubles of exact integers with a fixed
    * parenthesization the oracle mirrors. Groups missing either
    * period drop (a division by zero units is meaningless, the
    * new/discontinued lines belong to a separate bridge line).
    */
  def priceVolumeMix(df: DataFrame, groupCol: String, periodCol: String,
      centsCol: String, qtyCol: String, p0: Any, p1: Any): DataFrame = {
    def tot(p: Any, c: String) =
      sum(when(col(periodCol) === lit(p), col(c)).otherwise(lit(0L)))
    val g = df.filter(col(periodCol) === lit(p0) || col(periodCol) === lit(p1))
      .groupBy(col(groupCol))
      .agg(tot(p0, centsCol).as("rev0"), tot(p1, centsCol).as("rev1"),
        tot(p0, qtyCol).as("qty0"), tot(p1, qtyCol).as("qty1"))
      .filter(col("qty0") > 0L && col("qty1") > 0L)
    val price0 = col("rev0").cast("double") / col("qty0").cast("double")
    val price1 = col("rev1").cast("double") / col("qty1").cast("double")
    g.select(col(groupCol),
      round(col("rev0").cast("double") / 100.0, 2).as("rev_p0"),
      round(col("rev1").cast("double") / 100.0, 2).as("rev_p1"),
      col("qty0"), col("qty1"),
      round((col("rev1") - col("rev0")).cast("double") / 100.0, 2)
        .as("delta_rev"),
      round((price1 - price0) * col("qty0").cast("double") / 100.0, 4)
        .as("price_effect"),
      round((col("qty1") - col("qty0")).cast("double") * price0 / 100.0, 4)
        .as("volume_effect"),
      round((price1 - price0) *
        (col("qty1") - col("qty0")).cast("double") / 100.0, 4).as("mix_effect"))
  }
}
